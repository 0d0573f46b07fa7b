package perfbench

import graft.SparkEntry
import graft.Tables
import graft.ops.EventOps
import org.apache.spark.sql.DataFrame

/** The query path of trade_ops (dashboard refresh): one client refreshing
  * the reference dashboard's panel set (the `EventOps` faces of q01–q12
  * and q18) over the events table, every panel collected to the client as
  * the reference's pandas frame is. Each refresh draws the sidebar
  * settings: the q01 status filter ("All" or one event type) and a row
  * limit in 100–5000.
  *
  * The first refresh, in set-up, is checked panel by panel against the
  * DuckDB twins; later refreshes must reproduce its digests (and every
  * q01 draw is checked against its own substituted oracle).
  */
final class Dashboard(c: Client) extends Phase {
  val WarmupRefreshes = 1
  private val statuses: Seq[Option[String]] =
    None +: Seq("click", "view", "purchase", "signup", "error").map(Some(_))

  private val panels: Seq[(String, DataFrame => DataFrame)] = Seq(
    "q02_kpi_overview" -> EventOps.kpiOverviewOn,
    "q03_type_distribution" -> EventOps.typeDistributionOn,
    "q04_value_by_type" -> EventOps.valueByTypeOn,
    "q05_top_users" -> EventOps.topUsersOn,
    "q06_minutely_timeseries" -> EventOps.minutelyTimeseriesOn,
    "q07_value_unpivot" -> EventOps.valueUnpivotOn,
    "q08_contains_filter" -> EventOps.containsFilterOn,
    "q09_priority_case" -> EventOps.priorityCaseOn,
    "q10_json_props" -> EventOps.jsonPropsOn,
    "q11_hourly_users" -> EventOps.hourlyUsersOn,
    "q12_dedup_events" -> EventOps.dedupEventsOn,
    "q18_display_format" -> EventOps.displayFormatOn)

  private lazy val events = {
    val t0 = c.trace.nowMs
    val df = Tables.t(c.spark, c.input, "events")
    c.sample("tables.load_ms", c.trace.nowMs - t0)
    df
  }
  private val oracle = SparkEntry.oracleSql
  private val expected = scala.collection.mutable.Map.empty[String, String]
  private var refresh = 0
  private var q01Checked = Set.empty[(Option[String], Int)]

  def setup(): Unit = (1 to WarmupRefreshes).foreach(_ => oneRefresh())

  def measure(seconds: Double): Unit =
    c.loop("query", seconds, minOps = 1)(() => oneRefresh())

  private def oneRefresh(): Unit = {
    val status = statuses(c.rng.nextInt(statuses.size))
    val limit = 100 + c.rng.nextInt(4901)
    val q01 = EventOps.recentEventsOn(events, status, limit)
    val all = ("q01_recent_events" -> ((_: DataFrame) => q01)) +: panels
    val out = c.timed("refresh", "refresh", all.size) {
      all.map { case (name, f) =>
        name -> c.call("panel", name) {
          val df = f(events)
          (df, df.collect())
        }
      }
    }
    refresh += 1
    out.foreach { case (name, (df, rows)) =>
      if (name == "q01_recent_events") {
        // each distinct draw goes to the oracle once, with the drawn
        // settings substituted into the q01 twin
        if (!q01Checked((status, limit))) {
          q01Checked += ((status, limit))
          val key = s"q01_recent_events-${status.getOrElse("all")}-$limit"
          c.check(s"$key oracle shape")(q01Sql(oracle(name), status, limit)
            .map(sql => c.toOracle(key, df, rows, sql)).isDefined)
        }
      } else expected.get(name) match {
        case None =>
          expected(name) = c.digest(rows)
          c.toOracle(name, df, rows, oracle(name))
        case Some(e) =>
          c.check(s"refresh $refresh $name equals the oracle-checked rows")(
            c.digest(rows) == e)
      }
    }
  }

  /** The q01 twin with the drawn status and limit substituted. */
  private def q01Sql(sql: String, status: Option[String], limit: Int): Option[String] = {
    val where = "WHERE event_type = 'click'"
    if (!sql.contains(where) || !sql.contains("LIMIT 500")) None
    else Some(sql.replace(where,
      status.fold("")(s => s"WHERE event_type = '$s'")).replace("LIMIT 500", s"LIMIT $limit"))
  }
}

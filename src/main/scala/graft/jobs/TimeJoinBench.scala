package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale evidence for the time-join family (q61/q62), same witness
  * discipline as [[DedupScaleBench]]: every datapoint carries an exact
  * correctness verdict computed from the construction.
  *
  * Modes (sbt -batch "runMain graft.jobs.TimeJoinBench <mode> <n> ..."):
  *  - `asof <n>` — n events, U = n/200 users (odd, so parity alternates
  *    along each user's id-stream), ts = id: every odd id is a purchase
  *    whose as-of view is EXACTLY id − U (the previous event of its
  *    user) when id ≥ U. Runs the union+window shape, verifies zero
  *    violations, and times the NAIVE theta-join formulation on the
  *    same input as the A/B contrast (per-user pair mass = 100×100, so
  *    the naive side stays runnable while still 50·n rows — the point
  *    is the curve, not a blow-up).
  *  - `asofd <n>` — the DENSITY curve: users fixed at 1001 while n
  *    grows, so the naive theta-join's pair mass grows quadratically
  *    while the window shape stays one sort (the divergence argument).
  *  - `skew <n>` — hot-key A/B: user 0 holds 95% of the stream; plain
  *    [[graft.queries.TimeJoins.asofJoin]] vs the bucketed variant,
  *    checksum-verified identical.
  *  - `range <n>` — n events on ts = id over [0, n), n/1000 intervals
  *    of span 700 on a 1000-grid: interval i covers ids
  *    [1000i, 1000i+700) → exactly 700 events each (the construction
  *    verdict), bucket width 128.
  */
object TimeJoinBench {

  def asofPoint(spark: SparkSession, n: Long,
      fixedUsers: Long = 0L): String = {
    import spark.implicits._
    // fixedUsers > 0 = the DENSITY curve: user count held constant as n
    // grows, so the naive theta-join's per-user pair mass (views ×
    // purchases = (n/2U)²·U = n²/4U) grows QUADRATICALLY while the
    // union+window shape stays one sort of n rows — the divergence the
    // operator exists to avoid. Default = constant 200-event streams
    // (both shapes linear; measures the window shape's own scaling).
    val users =
      (if (fixedUsers > 0) fixedUsers else math.max(1L, n / 200)) | 1L // odd
    val ev = spark.range(n).select(col("id").as("event_id"),
        (col("id") % users).as("user_id"), col("id").as("ts_us"))
      .cache()
    ev.count()
    val purchases = ev.filter(col("event_id") % 2 === 1)
    val views = ev.filter(col("event_id") % 2 === 0)
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("view_event_id"))
    var violations = -1L
    var matched = -1L
    val (wWin, s1, e1) = DedupScaleBench.witness { () =>
      val r = graft.queries.TimeJoins.asofJoin(purchases, views,
        "user_id", "ts_us", carry = Seq("view_event_id"))
      val agg = r.agg(
        sum(when(col("asof_view_event_id").isNotNull &&
          col("asof_view_event_id") =!= col("event_id") - users, 1L)
          .otherwise(0L)).as("viol"),
        sum(when(col("asof_view_event_id").isNotNull, 1L).otherwise(0L))
          .as("matched"),
        sum(when(col("asof_view_event_id").isNull &&
          col("event_id") >= users, 1L).otherwise(0L)).as("missing"))
        .head()
      violations = agg.getLong(0) + agg.getLong(2)
      matched = agg.getLong(1)
    }
    // naive formulation: theta-join + per-purchase argmax + join back
    var naiveMatched = -1L
    val (wNaive, s2, e2) = DedupScaleBench.witness { () =>
      val pairs = purchases.as("p").join(views.as("v"),
        col("p.user_id") === col("v.user_id") &&
          col("v.ts_us") <= col("p.ts_us"))
      val best = pairs.groupBy(col("p.event_id").as("pid"),
          col("p.user_id").as("puid"))
        .agg(max(col("v.ts_us")).as("best"))
      // join BACK to recover the matched view's payload — without this
      // the naive side does strictly less work than a real as-of join
      naiveMatched = best.join(views,
          best("puid") === views("user_id") &&
            best("best") === views("ts_us"))
        .count()
    }
    ev.unpersist()
    f"""{"kind":"${if (fixedUsers > 0) "asof_density" else "asof"}","n":$n,"users":$users,"matched":$matched,""" +
      f""""violations":$violations,"naive_matched":$naiveMatched,""" +
      f""""wall_window_sec":$wWin%.2f,"wall_naive_sec":$wNaive%.2f,""" +
      f""""naive_over_window":${wNaive / wWin}%.2f,""" +
      f""""steal_win":$s1%.2f,"cpu_eff_win":$e1%.3f,""" +
      f""""steal_naive":$s2%.2f,"cpu_eff_naive":$e2%.3f}"""
  }

  /** Skew A/B: user 0 holds 95% of the stream (views on even ids,
    * purchases on odd — the hot key gets both kinds), the rest spreads
    * over n/400 cold users. The plain window serializes the hot key's
    * rows onto ONE task; the bucketed variant splits it into 64 time
    * slices. Verdict: both implementations must produce identical
    * (match count, Σ matched view ids) checksums — bucketing must not
    * change a single match.
    */
  def skewPoint(spark: SparkSession, n: Long): String = {
    import spark.implicits._
    val users = math.max(3L, n / 400)
    // hot user 0 holds 38/40 = 95% of the stream; cold ids are the
    // PAIR (40k+38 even = view, 40k+39 odd = purchase), both mapped to
    // user 1 + (k % users) — so every cold user genuinely receives both
    // kinds and contributes real match work (an earlier cut selected
    // only odd cold ids, silently making the cold side matchless)
    val ev = spark.range(n).select(col("id").as("event_id"),
        when(col("id") % 40 < 38, 0L)
          .otherwise(lit(1L) + ((col("id") / 40) % users)).as("user_id"),
        col("id").as("ts_us"))
      .cache()
    ev.count()
    val purchases = ev.filter(col("event_id") % 2 === 1)
    val views = ev.filter(col("event_id") % 2 === 0)
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("view_event_id"))
    def checksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(
        sum(when(col("asof_view_event_id").isNotNull, 1L).otherwise(0L)),
        sum(coalesce(col("asof_view_event_id"), lit(0L)))).head()
      (r.getLong(0), r.getLong(1))
    }
    var cPlain: (Long, Long) = null
    val (wPlain, s1, e1) = DedupScaleBench.witness { () =>
      cPlain = checksum(graft.queries.TimeJoins.asofJoin(
        purchases, views, "user_id", "ts_us", Seq("view_event_id")))
    }
    var cBuck: (Long, Long) = null
    val width = math.max(1L, n / 64)
    val (wBuck, s2, e2) = DedupScaleBench.witness { () =>
      cBuck = checksum(graft.queries.TimeJoins.asofJoinBucketed(
        purchases, views, "user_id", "ts_us", Seq("view_event_id"), width))
    }
    ev.unpersist()
    f"""{"kind":"asof_skew","n":$n,"users":${users + 1},""" +
      f""""hot_share":0.95,"checksums_equal":${cPlain == cBuck},""" +
      f""""matched":${cPlain._1},"wall_plain_sec":$wPlain%.2f,""" +
      f""""wall_bucketed_sec":$wBuck%.2f,""" +
      f""""speedup":${wPlain / wBuck}%.2f,""" +
      f""""steal_plain":$s1%.2f,"cpu_eff_plain":$e1%.3f,""" +
      f""""steal_bucketed":$s2%.2f,"cpu_eff_bucketed":$e2%.3f}"""
  }

  def rangePoint(spark: SparkSession, n: Long): String = {
    import spark.implicits._
    // every interval must be fully populated for the exact-700 verdict
    require(n >= 1000, s"range mode needs n >= 1000, got $n")
    val nIv = math.max(1L, n / 1000)
    val ev = spark.range(n).select(col("id").as("ts_us"),
      col("id").as("event_id")).cache()
    ev.count()
    val ivs = spark.range(nIv).select(col("id").as("window_id"),
      (col("id") * 1000L).as("start_us"),
      (col("id") * 1000L + 700L).as("end_us"))
    var ok = false
    var rows = -1L
    val (wall, s1, e1) = DedupScaleBench.witness { () =>
      val r = graft.queries.TimeJoins.rangeJoinAgg(ev, ivs, "ts_us",
        "window_id", "start_us", "end_us", bucketWidth = 128L,
        aggs = Seq(count(lit(1)).as("n_events")))
      val agg = r.agg(count(lit(1)).as("windows"),
        sum(when(col("n_events") =!= 700L, 1L).otherwise(0L)).as("bad"))
        .head()
      rows = agg.getLong(0)
      ok = rows == nIv && agg.getLong(1) == 0L
    }
    ev.unpersist()
    f"""{"kind":"range","n":$n,"intervals":$nIv,"windows_out":$rows,""" +
      f""""all_700_exact":$ok,"wall_sec":$wall%.2f,""" +
      f""""steal_pct":$s1%.2f,"cpu_eff":$e1%.3f}"""
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("asof")
    val ns = args.drop(1).map(_.toLong).toSeq match {
      case Seq() => Seq(1000000L)
      case s => s
    }
    val spark = Sessions.scale()
    val out = ns.map { n =>
      mode match {
        case "range" => rangePoint(spark, n)
        case "asofd" => asofPoint(spark, n, fixedUsers = 1001L)
        case "skew" => skewPoint(spark, n)
        case _ => asofPoint(spark, n)
      }
    }
    spark.stop()
    out.foreach(println)
  }
}

package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.filter.{Heuristics, KnLm, LangId, QualityFilter}
import graft.functions.PiiScrub
import graft.jobs.BuildFixtures
import graft.model.FileRecord
import graft.profile.{Analysis, JsonWalk, Profiler}

/** One measured op. Times in seconds, sizes in bytes. */
final case class OpRec(n: Int, cycle: Int, pos: Int, traced: Boolean,
    wall: Double, rows: Long, inBytes: Long, filesWritten: Long,
    bytesWritten: Long, filesRead: Long, overwriteS: Double, markerS: Double,
    check: Checked, checkS: Double, spark: GroupStats,
    layers: Map[String, Double])

/** Benchmark entry point, one JVM per run:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --results DIR
  *
  * Set-up runs [[SetupReps]] times (session start, model broadcast, seeded
  * input written) and is followed by the workload's untimed warm-up cycles;
  * `setup_s` is the JVM start plus the median repetition plus the warm-up. Then
  * one client runs ops back to back until the ops' summed wall reaches S
  * seconds, and every op's output is checked. With `--trace 1`, odd cycles
  * run the traced replica plus a kernel pass, and the run reports
  * per-layer numbers instead of the end-to-end ones. The last stdout line
  * starting with `RESULT ` is the
  * result object.
  */
object Main {
  val SetupReps = 3
  /** Percentile `op_tail_s` reports. */
  val TailPct = 90.0
  /** No new op starts after this many seconds of JVM uptime. */
  val DeadlineS = 120.0

  def main(args: Array[String]): Unit = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val workload = opt("workload")
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val results = opt("results")
    val cores = Runtime.getRuntime.availableProcessors()
    new java.io.File(results).mkdirs()
    val runId = s"$workload-s$seed-t${if (traced) 1 else 0}-${System.currentTimeMillis()}"
    val tr = new Tracer(runId)
    val errors = ArrayBuffer[String]()

    // ---- set-up: session, models and seeded inputs, repeated; the last
    // repetition's session is measured after untimed warm-up cycles ----
    var spark: SparkSession = null
    var listener: OpListener = null
    var w: Workload = null
    var models: (Broadcast[LangId.Model], Broadcast[KnLm.Model]) = null
    val repSecs = (0 until SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work)
      listener = new OpListener
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener.queryListener)
      models = (spark.sparkContext.broadcast(LangId.load(BuildFixtures.LangIdModelPath)),
        spark.sparkContext.broadcast(KnLm.load(BuildFixtures.KnLmModelPath)))
      w = Workload(workload, spark, work, seed)
      group(spark, "setup") { w.prepare() }
      (System.nanoTime() - t0) / 1e9
    }
    val warmS = {
      val t0 = System.nanoTime()
      for (cycle <- -w.warmupCycles to -1) group(spark, "setup") {
        w.beginCycle(cycle)
        for (pos <- 0 until w.opsPerCycle) {
          val c = w.check(cycle, pos, w.runOp(cycle, pos, tr))
          if (!c.ok) errors += s"warm-up op $pos: ${c.error}"
        }
        w.endCycle(cycle).foreach(e => errors += s"warm-up cycle: $e")
        w.cleanup(cycle)
      }
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = jvmStartS + median(repSecs) + warmS

    // ---- timed closed loop ----
    val sc = spark.sparkContext
    val ops = ArrayBuffer[OpRec]()
    val steal0 = Host.jiffies()
    var timed = 0.0
    var cycle = 0
    var stop = false
    while (!stop) {
      val tracedCycle = traced && cycle % 2 == 1
      group(spark, "cycle") { w.beginCycle(cycle) }
      var pos = 0
      while (pos < w.opsPerCycle && !stop) {
        val n = ops.size
        val dir = w.catalogDir(cycle, pos)
        PerfbenchBus.drain(sc)
        listener.takeWrites()
        val before = Workload.listing(dir)
        val g = s"op-$n"
        sc.setJobGroup(g, s"${w.name} op $n", interruptOnCancel = false)
        tr.enabled = tracedCycle
        val t0 = System.nanoTime()
        val out =
          try Right(tr.within(n, "op") { w.runOp(cycle, pos, tr) })
          catch { case e: Exception => Left(e) }
        val wall = (System.nanoTime() - t0) / 1e9
        tr.enabled = false
        sc.clearJobGroup()
        timed += wall
        PerfbenchBus.drain(sc)
        val writes = listener.takeWrites()
        val after = Workload.listing(dir)
        val tc = System.nanoTime()
        val checked = out match {
          case Left(e) => Checked(ok = false, "", s"op threw: $e")
          case Right(res) =>
            try group(spark, s"check-$n") { w.check(cycle, pos, res) }
            catch { case e: Exception => Checked(ok = false, "", s"check threw: $e") }
        }
        val checkS = (System.nanoTime() - tc) / 1e9
        val layers =
          if (!tracedCycle || out.isLeft) Map.empty[String, Double]
          else {
            tr.enabled = true
            try group(spark, s"kernel-$n") {
              opSpanLayers(tr, n) ++ tr.within(n, "kernel") {
                kernel(spark, w.records(pos), models, tr) ++
                  w.layerCounts(cycle, pos, out.toOption.get)
              }
            } finally tr.enabled = false
          }
        val added = after.keySet -- before.keySet
        ops += OpRec(n, cycle, pos, tracedCycle, wall, w.rows(pos),
          w.inputBytes(pos), added.size.toLong,
          after.values.sum - before.values.sum, w.filesRead(pos, before, after),
          writes.filterNot(_._2).map(_._3).sum, writes.filter(_._2).map(_._3).sum,
          checked, checkS, listener.stats(g), layers)
        pos += 1
        // untraced runs stop at the first op past the time budget; traced
        // runs finish a cycle, and need one untraced and one traced cycle
        stop = uptime() > DeadlineS || (timed >= seconds &&
          (!traced || (cycle >= 1 && pos == w.opsPerCycle)))
      }
      group(spark, "cycle") {
        try if (pos == w.opsPerCycle) w.endCycle(cycle).foreach { e =>
          val last = ops.last
          ops(ops.size - 1) = last.copy(check = last.check.copy(ok = false,
            error = (last.check.error + "; " + e).stripPrefix("; ")))
        } finally w.cleanup(cycle)
      }
      cycle += 1
    }
    val steal1 = Host.jiffies()
    PerfbenchBus.drain(sc)

    // every op at one cycle position must commit the same output, traced
    // or not: the replica may not drift from the engine's composition
    ops.groupBy(_.pos).foreach { case (pos, recs) =>
      val digests = recs.filter(_.check.ok).map(_.check.digest).distinct
      if (digests.size > 1)
        errors += s"position $pos: ${digests.size} distinct output digests"
    }
    val failed = ops.count(!_.check.ok)
    val correct = failed == 0 && errors.isEmpty && ops.nonEmpty

    // tail: nearest-rank p90. A run holds 5-20 ops, so a percentile with
    // 10 samples beyond it would sit below the median; INFO states how
    // many samples lie beyond p90
    val walls = ops.map(_.wall).sorted
    val tailRank = math.max(1, math.ceil(TailPct / 100.0 * walls.size).toInt)
    val tail = walls(tailRank - 1)
    val beyond = walls.size - tailRank
    val stats = ops.map(_.spark)
    val host = Host.witnesses(steal0, steal1, stats.toSeq)

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("rows_per_s", ops.map(_.rows).sum / timed, "rows/s"),
        ("op_p50_s", median(walls.toSeq), "s"),
        ("op_tail_s", tail, "s"),
        ("write_amp", ops.map(_.bytesWritten).sum.toDouble /
          ops.map(_.inBytes).sum, "B/B"))
      else perLayer(ops.toSeq, host)

    for (o <- ops if !o.check.ok)
      System.err.println(s"[perfbench] op ${o.n} (cycle ${o.cycle} pos ${o.pos}) failed: ${o.check.error}")
    errors.foreach(e => System.err.println(s"[perfbench] $e"))

    val summary = Seq(
      "run" -> Json.str(runId), "workload" -> Json.str(workload),
      "seed" -> Json.num(seed), "trace" -> Json.bool(traced),
      "cores" -> Json.num(cores.toLong), "ops" -> Json.num(ops.size.toLong),
      "cycles" -> Json.num(cycle.toLong), "timed_s" -> Json.num(timed),
      "failed_frac" -> Json.num(failed.toDouble / math.max(1, ops.size)),
      "op_tail_percentile" -> Json.num(TailPct),
      "op_tail_samples_beyond" -> Json.num(beyond.toLong),
      "setup_reps_s" -> Json.arr(repSecs.map(Json.num)),
      "warmup_s" -> Json.num(warmS),
      "jvm_start_s" -> Json.num(jvmStartS),
      "host_steal_pct" -> Json.num(host._1), "host_cpu_eff" -> Json.num(host._2),
      "errors" -> Json.arr(errors.toSeq.map(Json.str)))
    val detail = ops.toSeq.map(o => Json.obj(Seq(
      "n" -> Json.num(o.n.toLong), "cycle" -> Json.num(o.cycle.toLong),
      "pos" -> Json.num(o.pos.toLong), "traced" -> Json.bool(o.traced),
      "wall_s" -> Json.num(o.wall), "check_s" -> Json.num(o.checkS),
      "ok" -> Json.bool(o.check.ok), "digest" -> Json.str(o.check.digest),
      "error" -> Json.str(o.check.error),
      "layers" -> Json.obj(o.layers.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }))))
    val result = Json.obj(Seq(
      "correct" -> Json.bool(correct), "attempted" -> Json.num(ops.size.toLong),
      "failed" -> Json.num(failed.toLong),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    val base = java.nio.file.Paths.get(results, runId)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base.json"),
      Json.obj(Seq("info" -> Json.obj(summary :+ ("ops_detail" -> Json.arr(detail))),
        "result" -> result)).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (traced) tr.write(java.nio.file.Paths.get(s"$base.spans.jsonl"))
    spark.stop()
    println("INFO " + Json.obj(summary))
    println("RESULT " + result)
    System.out.flush()
  }

  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  private def group[T](spark: SparkSession, g: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
  }

  private def uptime(): Double =
    ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Layer spans directly under op `n`'s root: summed seconds per name
    * (`span:<name>`), and how much of the op's wall they leave uncovered.
    */
  def opSpanLayers(tr: Tracer, n: Int): Map[String, Double] = {
    val spans = tr.spans.filter(_.op == n)
    val root = spans.find(s => s.name == "op" && s.parent == 0).get
    val children = spans.filter(_.parent == root.id)
    val covered = Tracer.covered(children.map(s => (s.startNs, s.endNs)))
    val wallNs = (root.endNs - root.startNs).toDouble
    children.groupBy(_.name).map { case (k, ss) =>
      s"span:$k" -> ss.map(_.seconds).sum
    } ++ Map(
      "bench.unattributed_s" -> (wallNs - covered) / 1e9,
      "bench.attributed_frac" -> covered / wallNs)
  }

  /** `body` inside span `name`, with the span's seconds. */
  private def timedSpan[T](tr: Tracer, name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = tr.span(name)(body)
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Per-row layer costs over the op's input, outside the op's wall: each
    * scorer, the scrubber and the JSON walk timed per row (summed over
    * tasks), then `QualityFilter.verdicts` into a noop sink and
    * `Analysis.profileAutoDetect` materialized, each in its own span.
    */
  def kernel(spark: SparkSession, recs: Dataset[FileRecord],
      models: (Broadcast[LangId.Model], Broadcast[KnLm.Model]),
      tr: Tracer): Map[String, Double] = {
    val sc = spark.sparkContext
    val keys = Seq("filter.langid.task_s", "filter.knlm.task_s",
      "filter.heuristics.task_s", "functions.scrub.task_s", "profile.walk.task_s",
      "functions.scrub.pii_rows", "profile.observations", "kernel.sink")
    val acc = keys.map(k => k -> sc.longAccumulator(k)).toMap
    val (lmB, kmB) = models
    tr.span("kernel.rows") {
      recs.foreachPartition { (it: Iterator[FileRecord]) =>
        val lm = lmB.value
        val km = kmB.value
        val v = new Array[Long](keys.size)
        it.foreach { r =>
          val s = r.content
          val t0 = System.nanoTime()
          val score = LangId.score(lm, s)
          val t1 = System.nanoTime()
          val nll = KnLm.avgNll(km, s)
          val t2 = System.nanoTime()
          val feats = Heuristics.textFeatures(s)
          val t3 = System.nanoTime()
          val (scrubbed, types) = PiiScrub.scrubWithTypes(s)
          val t4 = System.nanoTime()
          val obs = JsonWalk.walk(s).size
          val t5 = System.nanoTime()
          v(0) += t1 - t0; v(1) += t2 - t1; v(2) += t3 - t2
          v(3) += t4 - t3; v(4) += t5 - t4
          if (types.nonEmpty) v(5) += 1
          v(6) += obs
          // keep every result live
          v(7) += score.lang.length + java.lang.Double.hashCode(nll) +
            feats.nLines + scrubbed.length
        }
        keys.indices.foreach(i => acc(keys(i)).add(v(i)))
      }
    }
    val verdicts = QualityFilter.verdicts(spark, recs, lmB, kmB)
    val (_, verdictsS) = timedSpan(tr, "filter.verdicts") {
      verdicts.write.format("noop").mode("overwrite").save()
    }
    val keepFrac = verdicts.agg(avg(when(col("keep"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    val prof = Analysis.profileAutoDetect(spark,
      recs.toDF().select(col("content")), "content").cache()
    try {
      val (fields, profileS) = timedSpan(tr, "profile.profile") { prof.count() }
      val (_, hashS) = timedSpan(tr, "profile.schema_hash") {
        Profiler.schemaHash(prof)
      }
      keys.take(5).map(k => k -> acc(k).value / 1e9).toMap ++ Map(
        "functions.scrub.pii_rows" -> acc("functions.scrub.pii_rows").value.toDouble,
        "profile.observations" -> acc("profile.observations").value.toDouble,
        "filter.verdicts_s" -> verdictsS,
        "filter.keep_frac" -> keepFrac,
        "profile.fields" -> fields.toDouble,
        "profile.profile_s" -> profileS,
        "profile.schema_hash_s" -> hashS)
    } finally prof.unpersist()
  }

  /** Per-layer metrics, `(name, value, unit)`: medians over ops. Spark
    * numbers cover every op; span and kernel numbers cover traced ops.
    */
  def perLayer(ops: Seq[OpRec], host: (Double, Double)): Seq[(String, Double, String)] = {
    def med(f: OpRec => Double, from: Seq[OpRec] = ops): Double = median(from.map(f))
    val tracedOps = ops.filter(_.traced)
    val plain = ops.filterNot(_.traced)
    val mb = 1024.0 * 1024.0
    def stageGap(o: OpRec): Double =
      math.max(0.0, o.wall - o.spark.stageUnionMs / 1e3)
    def layer(k: String): Double = med(_.layers.getOrElse(k, 0.0), tracedOps)
    def spanSum(o: OpRec, name: String): Double = o.layers.getOrElse(s"span:$name", 0.0)
    val cands = layer("queries.candidates")
    Seq(
      ("spark.jobs", med(_.spark.jobs), "count"),
      ("spark.stages", med(_.spark.stages), "count"),
      ("spark.tasks", med(_.spark.tasks), "count"),
      ("spark.task_s", med(_.spark.runMs / 1e3), "s"),
      ("spark.cpu_s", med(_.spark.cpuNs / 1e9), "s"),
      ("spark.gc_s", med(_.spark.gcMs / 1e3), "s"),
      ("spark.parallelism", med(o => o.spark.runMs / 1e3 / o.wall), "x"),
      ("spark.max_task_share", med(_.spark.maxTaskShare), "frac"),
      ("spark.driver_gap_s", med(stageGap), "s"),
      ("spark.shuffle_write_mb", med(_.spark.shuffleWriteBytes / mb), "MB"),
      ("spark.shuffle_read_mb", med(_.spark.shuffleReadBytes / mb), "MB"),
      ("spark.spill_mb", med(_.spark.spillBytes / mb), "MB"),
      ("spark.peak_exec_mem_mb", med(_.spark.peakExecMem / mb), "MB"),
      ("filter.langid.task_s", layer("filter.langid.task_s"), "s"),
      ("filter.knlm.task_s", layer("filter.knlm.task_s"), "s"),
      ("filter.heuristics.task_s", layer("filter.heuristics.task_s"), "s"),
      ("filter.verdicts_s", layer("filter.verdicts_s"), "s"),
      ("filter.keep_frac", layer("filter.keep_frac"), "frac"),
      ("functions.scrub.task_s", layer("functions.scrub.task_s"), "s"),
      ("functions.scrub.pii_rows", layer("functions.scrub.pii_rows"), "count"),
      ("catalog.overwrite_s", med(_.overwriteS), "s"),
      ("catalog.marker_s", med(_.markerS), "s"),
      ("catalog.read_s", med(spanSum(_, "catalog.read"), tracedOps), "s"),
      ("catalog.files_written", med(_.filesWritten.toDouble), "count"),
      ("catalog.bytes_written", med(_.bytesWritten.toDouble), "B"),
      ("catalog.files_read", med(_.filesRead.toDouble), "count"),
      ("queries.commit_batch_s", med(spanSum(_, "queries.commit_batch"), tracedOps), "s"),
      ("queries.delta_pairs_s", med(spanSum(_, "queries.delta_pairs"), tracedOps), "s"),
      ("queries.candidates", cands, "count"),
      ("queries.pairs", layer("queries.pairs"), "count"),
      ("queries.verify_yield", if (cands > 0) layer("queries.pairs") / cands else 0.0, "frac"),
      ("profile.walk.task_s", layer("profile.walk.task_s"), "s"),
      ("profile.observations", layer("profile.observations"), "count"),
      ("profile.fields", layer("profile.fields"), "count"),
      ("profile.profile_s", layer("profile.profile_s"), "s"),
      ("profile.schema_hash_s", layer("profile.schema_hash_s"), "s"),
      ("host.steal_pct", host._1, "%"),
      ("host.cpu_eff", host._2, "frac"),
      ("bench.unattributed_s", layer("bench.unattributed_s"), "s"),
      ("bench.attributed_frac", layer("bench.attributed_frac"), "frac"),
      ("bench.trace_overhead",
        med(_.wall, tracedOps) / math.max(med(_.wall, plain), 1e-9), "x"))
  }
}

/** Contention witnesses, computed the way `graft.Bench` computes them. */
object Host {
  /** (total, steal) jiffies from the aggregate cpu line of /proc/stat. */
  def jiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  /** (steal % over the timed loop, executor CPU / (task run - GC)). */
  def witnesses(j0: (Long, Long), j1: (Long, Long),
      stats: Seq[GroupStats]): (Double, Double) = {
    val dTotal = j1._1 - j0._1
    val steal = if (dTotal > 0) 100.0 * (j1._2 - j0._2) / dTotal else 0.0
    val cpu = stats.map(_.cpuNs).sum / 1e9
    val busy = math.max(stats.map(s => s.runMs - s.gcMs).sum, 1L) / 1e3
    (steal, math.min(cpu / busy, 1.0))
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.{Graft, SparkEntry}
import graft.expr.{GraftFunctions, MinHash, StringMetrics, VectorMath}
import graft.graph.LabelSpreading

/** One workload run in one JVM: a closed loop with one client that sends
  * the workload's queries one after another through
  * `SparkEntry.queries(name)(spark, dir)` into the `noop` sink.
  *
  *  1. set-up: JVM start, `Graft.session`, one untimed warm-up pass, which
  *     writes every query's output for the oracle check;
  *  2. timed phase: passes over the mix, each in a seeded order, until
  *     `--seconds` have passed (at least MinPasses passes); full GCs after
  *     each pass, outside its timing, sample the live heap;
  *  3. with `--trace 1`, untraced and traced passes alternate (U T T U), and
  *     layer probes follow: table reads, kernels, the label-spreading steps
  *     and the dedup counters, each called from here.
  *
  * Writes `result.json` (and with tracing `spans.jsonl`) under `--out`.
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Minimum passes of each kind, so a median exists however slow a pass is. */
  private val MinPasses = 2
  private val QuietMs = 200L

  // q12's parameters (GraphQueries), for the label-spreading probe.
  private val K = 6
  private val Alpha = 0.01
  private val Iters = 5
  private val Thresh = 0.7
  // q17's banding (DedupQueries), for the largest-bucket counter.
  private val Bands = 4
  private val RowsPerBand = 3

  final case class Pass(traced: Boolean, wallS: Double, cpuS: Double, heapLiveMb: Double)

  /** Kernel probe results land here so the JIT cannot drop the calls. */
  @volatile private var sink = 0.0

  def main(argv: Array[String]): Unit = {
    val trace = new Trace
    val mainMs = trace.now()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val dir = a("data")
    val out = a("out")
    val cores = a("cores").toInt
    val names = a("queries").split(",").toSeq
    val tableReads = a("tables").split(",").toSeq
    val runId = s"$workload-$seed-${jvmStartMs.toLong}"

    val root = trace.open("run", -1)
    val setup = trace.open("setup", root)
    trace.add("setup.jvm", setup, jvmStartMs, mainMs)
    val sessionSpan = trace.open("setup.session", setup)
    val spark = Graft.session(s"local[$cores]", cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = trace.close(sessionSpan)
    val sc = spark.sparkContext
    val queries: Seq[(String, Query)] = names.map(n => n -> SparkEntry.queries(n))
    val rnd = new java.util.Random(seed)
    def order(): Seq[(String, Query)] = {
      val l = new java.util.ArrayList[(String, Query)]()
      queries.foreach(l.add)
      java.util.Collections.shuffle(l, rnd)
      (0 until l.size).map(l.get)
    }
    val warmSpan = trace.open("setup.warmup", setup)
    // The warm-up pass writes each output for the oracle check that follows
    // this process: the same plans as the timed noop runs, with a parquet sink.
    val dumpFailed = order().flatMap { case (n, fn) =>
      val t = System.nanoTime()
      val ok = try { fn(spark, dir).write.mode("overwrite").parquet(s"$out/outputs/$n"); true }
      catch { case NonFatal(e) => System.err.println(s"[perfbench] $n failed: $e"); false }
      System.err.println(f"[perfbench] warm-up $n ${(System.nanoTime() - t) / 1e9}%.3f s")
      if (ok) None else Some(n)
    }
    Files.write(Paths.get(s"$out/oracle_sql.json"), Json.obj(names.flatMap(n =>
      SparkEntry.oracleSql.get(n).map(sql => n -> Json.str(sql)))).getBytes(StandardCharsets.UTF_8))
    val warmupS = trace.close(warmSpan)
    trace.close(setup)
    val setupS = (mainMs - jvmStartMs) / 1e3 + sessionS + warmupS
    liveHeapMb(spark)

    val layers = new Layers(sc, trace)
    val attempted = mutable.Map.empty[String, Int].withDefaultValue(0)
    val failed = mutable.Map.empty[String, Int].withDefaultValue(0)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val wallsByQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val buildsByQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val execSpans = mutable.ArrayBuffer.empty[Int]
    var tracedWallS = 0.0

    def attach(): Unit = { sc.addSparkListener(layers); spark.listenerManager.register(layers) }
    def detach(): Unit = {
      Bus.drain(sc)
      sc.removeSparkListener(layers)
      spark.listenerManager.unregister(layers)
      sc.setLocalProperty(Layers.BucketKey, null)
      sc.setLocalProperty(Layers.SpanKey, null)
    }

    def plainQuery(n: String, fn: Query): Unit = {
      attempted(n) += 1
      try fn(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) => System.err.println(s"[perfbench] $n failed: $e"); failed(n) += 1 }
    }

    def tracedQuery(pass: Int, n: String, fn: Query): Unit = {
      attempted(n) += 1
      val q = trace.open(s"query.$n", pass)
      val b = trace.open("build", q)
      layers.tag(n, b)
      execSpans += b
      try {
        val df = try fn(spark, dir) finally
          buildsByQuery.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += trace.close(b)
        layers.addAnalysis(n, df.queryExecution)
        val e = trace.open("execute", q)
        execSpans += e
        layers.tag(n, e)
        try df.write.format("noop").mode("overwrite").save() finally trace.close(e)
      } catch { case NonFatal(e) => System.err.println(s"[perfbench] $n failed: $e"); failed(n) += 1 }
      val wall = trace.close(q)
      wallsByQuery.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += wall
      tracedWallS += wall
      Bus.drain(sc)
    }

    val t0 = System.nanoTime()
    def enough: Boolean = {
      val (t, u) = passes.partition(_.traced)
      u.size >= MinPasses && (!traced || t.size >= MinPasses) &&
        (System.nanoTime() - t0) / 1e9 >= seconds
    }
    while (!enough) {
      // Untraced and traced passes go U T T U, so a steady drift from one
      // pass to the next (the JIT still settling) cancels in the overhead.
      val isTraced = traced && (passes.size % 4 == 1 || passes.size % 4 == 2)
      val c0 = appCpuNs()
      val w0 = System.nanoTime()
      if (isTraced) {
        attach()
        val pass = trace.open(s"pass.${passes.size}", root)
        order().foreach { case (n, fn) => tracedQuery(pass, n, fn) }
        trace.close(pass)
        detach()
      } else order().foreach { case (n, fn) => plainQuery(n, fn) }
      val p = Pass(isTraced, (System.nanoTime() - w0) / 1e9, (appCpuNs() - c0) / 1e9,
        liveHeapMb(spark))
      passes += p
      System.err.println(f"[perfbench] pass ${passes.size} traced=$isTraced wall ${p.wallS}%.3f s " +
        f"cpu ${p.cpuS}%.3f s heap ${p.heapLiveMb}%.1f MB")
    }

    val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (traced) {
      attach()
      val probes = trace.open("probes", root)
      probeTables(spark, dir, tableReads, layers, trace, probes, perLayer)
      probeKernels(spark, dir, workload, trace, probes, perLayer)
      probeLabelSpreading(spark, dir, workload, layers, trace, probes, perLayer)
      probeCounters(spark, dir, workload, layers, trace, probes, perLayer)
      trace.close(probes)
      detach()
      val tracedPasses = passes.count(_.traced)
      perLayer("setup.jvm_s") = ((mainMs - jvmStartMs) / 1e3, "s")
      perLayer("setup.session_s") = (sessionS, "s")
      perLayer("setup.warmup_s") = (warmupS, "s")
      layerSummary(names, tracedPasses, cores, tracedWallS, wallsByQuery, buildsByQuery,
        execSpans.toSeq, layers, trace, perLayer)
      val (t, u) = passes.partition(_.traced)
      perLayer("trace.overhead_s") = (median(t.map(_.wallS).toSeq) - median(u.map(_.wallS).toSeq), "s")
    }
    trace.close(root)

    if (traced) trace.write(s"$out/spans.jsonl", runId)
    def counts(m: mutable.Map[String, Int]) = Json.obj(names.map(n => n -> m(n).toString))
    val result = Json.obj(Seq(
      "run_id" -> Json.str(runId),
      "workload" -> Json.str(workload),
      "cores" -> cores.toString,
      "setup_s" -> Json.num(setupS),
      "passes" -> Json.arr(passes.toSeq.map(p => Json.obj(Seq(
        "traced" -> p.traced.toString, "wall_s" -> Json.num(p.wallS),
        "cpu_s" -> Json.num(p.cpuS), "heap_live_mb" -> Json.num(p.heapLiveMb))))),
      "attempted" -> counts(attempted),
      "failed" -> counts(failed),
      "dump_failed" -> Json.arr(dumpFailed.map(Json.str)),
      "per_layer" -> Json.obj(perLayer.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    Files.write(Paths.get(s"$out/result.json"), result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    System.exit(0)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** CPU time of the JVM's Java threads: Spark's task, driver and
    * listener threads. The JIT compiler and GC threads are not Java threads
    * and are left out: in the first passes after warm-up the JIT's share
    * swung by several seconds per pass from run to run. */
  private def appCpuNs(): Long = {
    val mx = ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.map(mx.getThreadCpuTime).filter(_ > 0).sum
  }

  /** Old-generation occupancy after full GCs, outside any timing: what the
    * pass left reachable (broadcasts, cached and checkpointed blocks,
    * plans). A trivial query first displaces the state Spark keeps for the
    * most recent execution (about 20 MB after some relational queries), so
    * the sample does not depend on which query ran last. The first
    * collection lets Spark's ContextCleaner see what is unreachable; the
    * pause lets it release those blocks (and lets cleanup from this pass
    * finish before the next pass starts); the second collection frees them. */
  private def liveHeapMb(spark: SparkSession): Double = {
    spark.range(1).write.format("noop").mode("overwrite").save()
    System.gc()
    Thread.sleep(QuietMs)
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans
    val old = (0 until pools.size).map(pools.get).find(_.getName.contains("Old Gen"))
    val used = old.map(_.getUsage.getUsed)
      .getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    used / (1024.0 * 1024.0)
  }

  /** Per-pass layer metrics from the traced passes (totals over the
    * workload's queries divided by the traced pass count). */
  private def layerSummary(names: Seq[String], tracedPasses: Int, cores: Int, tracedWallS: Double,
                           walls: mutable.Map[String, mutable.ArrayBuffer[Double]],
                           builds: mutable.Map[String, mutable.ArrayBuffer[Double]],
                           execSpans: Seq[Int], layers: Layers, trace: Trace,
                           out: mutable.Map[String, (Double, String)]): Unit = {
    val n = tracedPasses.toDouble
    val qs = names.map(layers(_))
    def sum(f: LayerStats => Long): Double = qs.map(f).sum.toDouble / n
    for (q <- names) {
      out(s"q.$q.wall_s") = (median(walls(q).toSeq), "s")
      out(s"q.$q.build_s") = (builds.get(q).map(b => median(b.toSeq)).getOrElse(0.0), "s")
      out(s"q.$q.jobs") = (layers(q).jobs / n, "count")
    }
    out("q.samples") = (n, "count")
    out("plan.analysis_s") = (sum(_.analysisMs) / 1e3, "s")
    out("plan.optimization_s") = (sum(_.optimizationMs) / 1e3, "s")
    out("plan.planning_s") = (sum(_.planningMs) / 1e3, "s")
    out("sched.jobs") = (sum(_.jobs), "count")
    out("sched.stages") = (sum(_.stages), "count")
    out("sched.tasks") = (sum(_.tasks), "count")
    out("sched.delay_s") = (sum(_.delayMs) / 1e3, "s")
    val self = trace.selfTimesS()
    out("sched.driver_idle_s") = (execSpans.map(self).sum / n, "s")
    out("sched.core_busy_ratio") = (sum(_.taskMs) * n / 1e3 / (tracedWallS * cores), "ratio")
    out("exec.run_s") = (sum(_.runMs) / 1e3, "s")
    out("exec.cpu_s") = (sum(_.cpuNs) / 1e9, "s")
    out("exec.gc_s") = (sum(_.gcMs) / 1e3, "s")
    out("scan.bytes") = (sum(_.inBytes), "bytes")
    out("scan.records") = (sum(_.inRecords), "count")
    out("scan.time_s") = (sum(_.scanTimeMs) / 1e3, "s")
    out("shuffle.write_bytes") = (sum(_.shWriteBytes), "bytes")
    out("shuffle.read_bytes") = (sum(_.shReadBytes), "bytes")
    out("shuffle.records") = (sum(_.shRecords), "count")
    out("shuffle.fetch_wait_s") = (sum(_.fetchWaitMs) / 1e3, "s")
    out("mem.storage_peak_mb") = (qs.map(_.storagePeakBytes).max / (1024.0 * 1024.0), "MB")
    out("fuzzy.pairs_scored") =
      (if (names.contains(Workloads.Q10)) layers(Workloads.Q10).joinRows / n else 0.0, "count")
    out("topk.pairs_scored") =
      (if (names.contains(Workloads.Q11)) layers(Workloads.Q11).joinRows / n else 0.0, "count")
  }

  /** The workload's table reads of one pass, each a direct `Graft.table`
    * call, repeated MinPasses times; medians per round. */
  private def probeTables(spark: SparkSession, dir: String, reads: Seq[String], layers: Layers,
                          trace: Trace, parent: Int,
                          out: mutable.Map[String, (Double, String)]): Unit = {
    val rounds = (1 to MinPasses).map { r =>
      val span = trace.open(s"probe.table.$r", parent)
      layers.tag("table", span)
      reads.foreach(t => trace.span(s"table.$t", span)(_ => Graft.table(spark, dir, t)))
      trace.close(span)
    }
    Bus.drain(spark.sparkContext)
    out("table.calls") = (reads.size.toDouble, "count")
    out("table.build_s") = (median(rounds), "s")
    out("table.jobs") = (layers("table").jobs.toDouble / MinPasses, "count")
  }

  /** Median ns per call over MinPasses timed repetitions, after one untimed
    * repetition for the JIT. */
  private def nsPerCall(calls: Long)(body: => Double): Double = {
    sink += body
    median((1 to MinPasses).map { _ =>
      val t = System.nanoTime()
      sink += body
      (System.nanoTime() - t).toDouble / calls
    })
  }

  /** Single-thread kernel timings on the workload's own inputs: the
    * vectors of `embeddings`, the texts of `documents` against short
    * phrases cut from the corpus (q10 scores texts against short seeds). */
  private def probeKernels(spark: SparkSession, dir: String, workload: String, trace: Trace,
                           parent: Int, out: mutable.Map[String, (Double, String)]): Unit =
    trace.span("probe.kernels", parent) { _ =>
      var dot, cos, jac, lev, mh = 0.0
      if (workload == "labelprop") {
        val v = Graft.table(spark, dir, "embeddings").select(col("embedding")).collect()
          .map(r => UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](0).toArray))
        val rows = math.min(250, v.length)
        def allPairs(f: (UnsafeArrayData, UnsafeArrayData) => Double): Double = {
          var acc = 0.0
          var i = 0
          while (i < rows) { var j = 0; while (j < v.length) { acc += f(v(i), v(j)); j += 1 }; i += 1 }
          acc
        }
        val calls = rows.toLong * v.length
        dot = nsPerCall(calls)(allPairs(VectorMath.dotFloat))
        cos = nsPerCall(calls)(allPairs(VectorMath.cosineFloat))
      }
      if (workload == "text") {
        val texts = Graft.table(spark, dir, "documents").where(col("text").isNotNull)
          .select(lower(col("text"))).collect().map(r => UTF8String.fromString(r.getString(0)))
        val phrases = texts.take(4).map(t => UTF8String.fromString(t.toString.split(" ").take(3).mkString(" ")))
        def score(ts: Array[UTF8String], f: (UTF8String, UTF8String) => Double): Double = {
          var acc = 0.0
          for (t <- ts; p <- phrases) acc += f(t, p)
          acc
        }
        val levTexts = texts.take(2000)
        jac = nsPerCall(texts.length.toLong * phrases.length)(
          score(texts, StringMetrics.jaccardCharDistance(_: UTF8String, _: UTF8String)))
        lev = nsPerCall(levTexts.length.toLong * phrases.length)(
          score(levTexts, (t, p) => t.levenshteinDistance(p).toDouble))
        mh = nsPerCall(texts.length.toLong)(
          texts.map(t => MinHash.signaturesFromText(t).getLong(0).toDouble).sum)
      }
      out("kernel.dot_ns") = (dot, "ns")
      out("kernel.cosine_ns") = (cos, "ns")
      out("kernel.jaccard_ns") = (jac, "ns")
      out("kernel.levenshtein_ns") = (lev, "ns")
      out("kernel.minhash_text_ns") = (mh, "ns")
    }

  /** q12's layers called one after another, each output materialized
    * before the next call. */
  private def probeLabelSpreading(spark: SparkSession, dir: String, workload: String,
                                  layers: Layers, trace: Trace, parent: Int,
                                  out: mutable.Map[String, (Double, String)]): Unit = {
    var knnS, normS, spreadS, threshS, pairs, edges, spreadJobs, labelled = 0.0
    if (workload == "labelprop") {
      val e = Graft.table(spark, dir, "embeddings")
      def step[T](name: String)(body: => T): (T, Double) = {
        val span = trace.open(s"labelprop.$name", parent)
        layers.tag(name, span)
        val r = body
        val s = trace.close(span)
        Bus.drain(spark.sparkContext) // deliver this step's plans to its bucket
        (r, s)
      }
      val (knn, ks) = step("knn")(LabelSpreading.knnEdges(e, "vec_id", "embedding", K).localCheckpoint())
      val (s, ns) = step("normalize")(LabelSpreading.normalizedEdges(knn).localCheckpoint())
      val y = e.select(col("vec_id"),
        when(col("vec_id") % 5 === 0 && col("label") === 0, 1.0).otherwise(0.0).as("y1"),
        when(col("vec_id") % 5 === 0 && col("label") =!= 0, 1.0).otherwise(0.0).as("y0"))
      val (f, ss) = step("spread")(LabelSpreading.spread(s, y, "vec_id", Alpha, Iters))
      val (lab, ts) = step("threshold")(LabelSpreading.thresholdLabels(f, "vec_id", Thresh).localCheckpoint())
      layers.tag("labelprop.counters", -1)
      knnS = ks; normS = ns; spreadS = ss; threshS = ts
      pairs = layers("knn").joinRows.toDouble
      edges = knn.count().toDouble
      spreadJobs = layers("spread").jobs.toDouble
      labelled = lab.where(col("label_prop") =!= -1).count().toDouble / lab.count()
    }
    out("knn.s") = (knnS, "s")
    out("knn.pairs_scored") = (pairs, "count")
    out("knn.edges") = (edges, "count")
    out("knn.yield") = (if (pairs > 0) edges / pairs else 0.0, "ratio")
    out("normalize.s") = (normS, "s")
    out("spread.s") = (spreadS, "s")
    out("spread.jobs") = (spreadJobs, "count")
    out("threshold.s") = (threshS, "s")
    out("labelprop.labelled_frac") = (labelled, "ratio")
  }

  /** Dedup outcome counters of the text corpus: exact-duplicate groups
    * (q16), verified candidates and near duplicates (q17), and the largest
    * LSH bucket under q17's banding of the `minhash_text` signatures. */
  private def probeCounters(spark: SparkSession, dir: String, workload: String, layers: Layers,
                            trace: Trace, parent: Int,
                            out: mutable.Map[String, (Double, String)]): Unit = {
    var groups, cands, near, maxBucket = 0.0
    if (workload == "text") trace.span("probe.dedup", parent) { span =>
      layers.tag("dedup", span)
      groups = SparkEntry.queries(Workloads.Q16)(spark, dir).where(col("n_copies") > 1).count().toDouble
      val r = SparkEntry.queries(Workloads.Q17)(spark, dir)
        .agg(count(lit(1)), coalesce(sum(col("near_dup")), lit(0L))).head()
      cands = r.getLong(0).toDouble
      near = r.getLong(1).toDouble
      val sig = Graft.table(spark, dir, "documents").where(col("text").isNotNull)
        .select(GraftFunctions.minhash_text(col("text")).as("sig"))
      val keys = (0 until Bands).map { j =>
        struct(lit(j).as("band"), concat_ws("_", (0 until RowsPerBand).map(r =>
          element_at(col("sig"), j * RowsPerBand + r + 1)): _*).as("key"))
      }
      maxBucket = sig.select(explode(array(keys: _*)).as("b"))
        .groupBy(col("b.band"), col("b.key")).count()
        .agg(max(col("count"))).head().getLong(0).toDouble
    }
    out("dedup.exact_groups") = (groups, "count")
    out("dedup.candidates") = (cands, "count")
    out("dedup.near_dup") = (near, "count")
    out("dedup.verify_yield") = (if (cands > 0) near / cands else 0.0, "ratio")
    out("lsh.max_bucket") = (maxBucket, "count")
  }
}

/** Query names the counters refer to. */
object Workloads {
  val Q10 = "q10_seed_label_fuzzy"
  val Q11 = "q11_cosine_topk"
  val Q16 = "q16_exact_dedup"
  val Q17 = "q17_minhash_neardup"
}

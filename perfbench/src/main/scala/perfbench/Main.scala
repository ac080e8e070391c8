package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, sum => fsum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String

import graft.{SparkEntry, Tables}
import graft.queries.{DedupQueries, SimilarityQueries, TextQueries}
import graft.streaming.StreamJobs

/** The benchmark harness: one JVM, one benchmark thread driving one
  * `local[cores]` SparkSession through a workload's passes. It reaches
  * the engine only through public entry points (`SparkEntry.queries`,
  * the `materialize*` trunk builders, `StreamJobs`, the kernels) and
  * writes `result.json` for `run.py`, which checks outputs and prints
  * the metrics.
  *
  * Usage: Main --dump-oracle <file>
  *        Main <workload> <seed> <seconds> <trace 0|1> <cores> <table dir>
  *             <stream dir> <run dir>
  */
object Main {

  /** Keys per workload. The reference workload also runs the Part B
    * stream (see [[Bench.streamQueries]]). */
  val Workloads: Map[String, Seq[String]] = Map(
    "reference" -> Seq(
      // Part A Q1: batch analytics
      "q_topk_group_count", "q_regex_filter_cast", "q_zscore_outliers", "q_summary_stats",
      "q_join_agg_by_dim",
      // Part A Q2: recommender
      "q_semijoin_active", "q_pivot_matrix", "q_user_similarity", "q_predict_eval",
      // Part B: batch twins of the stream operators and sketches
      "q_json_extract", "q_distinct_exact_vs_hll", "q_sketch_cms"),
    "extensions" -> Seq(
      // graph family: a pin-chain fixpoint, then a job-heavy key with no pins
      "q_sssp", "q_bradley_terry",
      // pair family: readers of the dedup and set-similarity trunks
      "q_minhash_lsh", "q_dedup_keep", "q_setsim_prefix"))

  val Trunks: Map[String, Seq[(String, (SparkSession, String) => Unit)]] = Map(
    "extensions" -> Seq(
      "graph_adj" -> SimilarityQueries.materializeGraphAdj _,
      "dedup" -> DedupQueries.materializeTrunk _,
      "setsim" -> TextQueries.materializeSetsim _))

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    if (args(0) == "--dump-oracle") {
      val oracle = SparkEntry.oracleSql
      Json.write(args(1), Workloads.map { case (w, ks) =>
        w -> ks.map(k => k -> oracle(k)).toMap })
      return
    }
    val Array(workload, seedS, secondsS, traceS, coresS, dataDir, streamDir, runDir) = args
    new Bench(workload, seedS.toLong, secondsS.toDouble, traceS == "1", coresS.toInt,
      dataDir, streamDir, runDir).run()
  }
}

final class Bench(workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, dataDir: String, streamDir: String, runDir: String) {
  import Main._

  private val scratch = s"$runDir/scratch"
  private val out = mutable.LinkedHashMap.empty[String, Any]
  private val keys = Workloads(workload)
  private val trunks = Trunks.getOrElse(workload, Nil)
  private var spark: SparkSession = _

  /** Points the engine's scratch root (a static constant under the
    * source tree's `target/`) at this run's own directory, so every pin,
    * trunk and checkpoint of the run stays inside it. Runs before any
    * engine code reads the constant. */
  private def redirectScratch(): Unit = {
    val f = Tables.getClass.getDeclaredField("scratchDir")
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val u = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    u.putObject(u.staticFieldBase(f), u.staticFieldOffset(f), scratch)
    require(Tables.scratchDir == scratch, "scratch root redirect failed")
  }

  private def buildSession(): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", s"$runDir/tmp")
    .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
    .getOrCreate()

  /** `graft.Bench`'s untimed warm-up: a shuffle, a parquet read, a sort. */
  private def warmup(s: SparkSession): Unit = {
    s.range(100000).groupBy((col("id") % 7).as("k")).count().orderBy("k").collect()
    s.read.parquet(s"$dataDir/region.parquet").count()
  }

  /** Set-up, once: session build, warm-up and stale-scratch sweep. Its
    * total runs from JVM start (class loading and engine initialisation
    * included) to the first workload call. */
  private def setup(): Unit = {
    val t0 = now()
    spark = buildSession()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = now()
    warmup(spark)
    Tables.sweepStaleScratch(spark)
    out("session_build_s") = (t1 - t0) / 1e9
    out("session_warmup_s") = secs(t1)
    out("setup_s") =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  }

  // ---- scratch accounting -------------------------------------------------

  private def treeBytes(f: File, token: String, under: Boolean): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
      .map(c => treeBytes(c, token, under || c.getName.contains(token))).sum
    else if (under) f.length() else 0L

  /** Bytes of this session's own scratch subtree (its pins, keyed trunks,
    * trunk directories and stream checkpoints: every path whose name
    * carries the session token). */
  private def scratchBytes(token: String): Long = treeBytes(new File(scratch), token, false)

  /** Deletes every scratch entry of the session `token`, nobody else's. */
  private def cleanScratch(token: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    def walk(f: File, depth: Int): Unit = Option(f.listFiles()).foreach(_.foreach { c =>
      if (c.getName.contains(token)) rm(c) else if (depth < 2 && c.isDirectory) walk(c, depth + 1)
    })
    walk(new File(scratch), 0)
  }

  /** Trunk-like entries this session owns: keyed pins and token-keyed
    * top-level scratch directories, but not the transient `pins/` tree. */
  private def trunkEntries(token: String): Set[String] = {
    val top = Option(new File(scratch).listFiles()).toSeq.flatten
      .map(_.getName).filter(n => n.contains(token))
    val keyed = Option(new File(s"$scratch/pins-keyed").listFiles()).toSeq.flatten
      .map("pins-keyed/" + _.getName).filter(_.contains(token))
    (top ++ keyed).toSet
  }

  // ---- one pass ---------------------------------------------------------------

  private final case class KeyRun(key: String, buildS: Double, actionS: Double, err: String)

  private def tag(s: SparkSession, span: String): Unit =
    s.sparkContext.setLocalProperty(Tracer.Prop, span)

  private val SelfTestKey = "q_summary_stats"

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 7919 + pass).shuffle(keys)

  /** The timed action: every output column computed and collected, as
    * the reference pipelines do with their (small) results. */
  private def evaluate(df: DataFrame): Array[Row] = df.collect()

  private def release(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** One full evaluation in a fresh session: the workload's trunks, every
    * key in this pass's seeded order, then (reference only) the stream.
    * After each trunk, each key's action (before its cached blocks are
    * released) and each stream query (before it stops), the scratch bytes
    * and the live heap are sampled. The heap the step holds is the live
    * heap then less the live heap before it began, so it depends neither
    * on what earlier steps left behind nor on the seeded key order. With
    * `dump`, each key's collected result is also written to `out/<key>`
    * for the output check. Samples and dump are excluded from the pass
    * time. With `tracer`, its listeners watch the pass. */
  private def runPass(pass: Int, dump: Boolean, tracer: Option[Tracer]): Map[String, Any] = {
    val s = spark.newSession()
    tracer.foreach { t => s.streams.addListener(t.streams); s.listenerManager.register(t.queries) }
    val token = Tables.sessionToken(s)
    var (scratchPeak, heldPeak, heapBase) = (0L, 0L, 0L)
    var untimedNs = 0L
    def untimed(body: => Unit): Unit = {
      val t = now()
      body
      untimedNs += now() - t
    }
    def sample(): Unit = untimed {
      scratchPeak = math.max(scratchPeak, scratchBytes(token))
      val h = liveHeap()
      heldPeak = math.max(heldPeak, h - heapBase)
      heapBase = h // the next trunk starts from here
    }
    def rebase(): Unit = untimed { heapBase = liveHeap() }
    heapBase = liveHeap() // before the pass clock starts
    val t0 = now()
    val trunkTimes = trunks.map { case (name, build) =>
      tag(s, s"trunk\t$name")
      val t = now()
      build(s, dataDir)
      val dt = secs(t)
      tag(s, null)
      sample()
      name -> dt
    }
    val runs = order(pass).map { key =>
      val before = trunkEntries(token)
      var (b, a, err) = (0.0, 0.0, "")
      try {
        tag(s, s"build\t$key")
        val t1 = now()
        val df = SparkEntry.queries(key)(s, dataDir)
        b = secs(t1)
        tag(s, s"action\t$key")
        var rows: Array[Row] = null
        val t2 = now()
        if (dump && key == SelfTestKey) selfTest(s, df) { rows = evaluate(df) }
        else rows = evaluate(df)
        a = secs(t2)
        tag(s, null)
        val leaked = trunkEntries(token) -- before
        if (leaked.nonEmpty) err = s"trunk written inside the key call: ${leaked.mkString(", ")}"
        sample()
        if (dump) untimed {
          s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$runDir/out/$key")
        }
      } catch { case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      tag(s, null)
      release(s)
      rebase()
      if (err.nonEmpty) System.err.println(s"[perfbench] $key failed: $err")
      KeyRun(key, b, a, err)
    }
    val stream: Map[String, Any] =
      if (workload == "reference") streamQueries(s, () => sample(), () => rebase()) else Map.empty
    val wall = (now() - t0 - untimedNs) / 1e9
    tracer.foreach { t =>
      PerfbenchBus.drain(s.sparkContext) // deliver every event before the listeners go
      s.streams.removeListener(t.streams)
      s.listenerManager.unregister(t.queries)
    }
    cleanScratch(token)
    stream ++ Map(
      "wall_s" -> wall,
      "token" -> token,
      "trunks" -> trunkTimes.toMap,
      "keys" -> runs.map(r => Map("key" -> r.key, "build_s" -> r.buildS,
        "action_s" -> r.actionS, "error" -> r.err)),
      "scratch_peak_bytes" -> scratchPeak,
      "heap_held_peak_bytes" -> heldPeak)
  }

  /** The reference's Part B: three streaming queries, one after another,
    * each from a fresh checkpoint over the same JSON-lines files, one file
    * per trigger (a closed loop: the next file is offered once the last
    * batch committed). `runningCounts` reports its top-k in `foreachBatch`;
    * every query's final counts are kept for the output check. */
  private def streamQueries(s: SparkSession, sample: () => Unit,
      rebase: () => Unit): Map[String, Any] = {
    val ckpt = s"$scratch/stream-${Tables.sessionToken(s)}"
    val finals = mutable.LinkedHashMap.empty[String, Map[String, Long]]
    val batches = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    def run(name: String, mode: String, frame: DataFrame, complete: Boolean): Unit = {
      val acc = mutable.Map.empty[String, Long]
      tag(s, s"stream\t$name") // inherited by the query's own threads
      val q: StreamingQuery = frame.writeStream
        .outputMode(mode)
        .option("checkpointLocation", s"$ckpt/$name")
        .trigger(Trigger.ProcessingTime(0L))
        .foreachBatch { (b: DataFrame, _: Long) =>
          if (complete) StreamJobs.topk(b).collect() // the per-batch report
          b.collect().foreach(r => acc(r.get(0).toString) = r.getLong(1))
        }
        .start()
      try {
        q.processAllAvailable()
        sample() // the query's state is still live here
        q.recentProgress.filter(_.numInputRows > 0)
          .foreach(p => batches += p.durationMs.get("triggerExecution").doubleValue / 1e3)
      } catch { case e: Throwable => errors += s"$name: ${e.getMessage}" }
      finally q.stop()
      rebase()
      tag(s, null)
      finals(name) = acc.toMap
    }
    run("running_counts", "complete",
      StreamJobs.runningCounts(StreamJobs.jsonFileStream(s, streamDir)), complete = true)
    run("running_user_counts", "update",
      StreamJobs.runningUserCounts(StreamJobs.jsonFileStream(s, streamDir)), complete = false)
    run("dedup", "update",
      StreamJobs.dedupStream(StreamJobs.jsonFileStream(s, streamDir)), complete = false)
    Map(
      "batch_s" -> batches.toSeq,
      "finals" -> finals.toMap,
      "errors" -> errors.toSeq)
  }

  private def pass(i: Int): Map[String, Any] = runPass(i, dump = i == 1, None)

  /** Live JVM heap, in bytes: the heap in use after full collections.
    * A collection lets Spark's context cleaner release the blocks of
    * shuffles, broadcasts and RDDs nothing references any more, which the
    * next collection frees; so collect at least three times, 50 ms apart,
    * and until the heap in use drops by less than 1 MB. */
  private def liveHeap(): Long = {
    def collected(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var (last, rounds, dropped) = (collected(), 0, true)
    while (rounds < 2 || (dropped && rounds < 20)) {
      Thread.sleep(50)
      val h = collected()
      dropped = last - h > (1L << 20)
      last = h
      rounds += 1
    }
    last
  }

  // ---- self-test -------------------------------------------------------------

  /** The timed action must evaluate every output column: the executed
    * plan of `q_summary_stats`'s timed action (captured in pass 1) has to
    * keep its exact `percentile` aggregates, which `count()` lets Catalyst
    * prune (the optimized plan of its `count()` is reported alongside). */
  private def selfTest(s: SparkSession, df: DataFrame)(action: => Unit): Unit = {
    val plans = mutable.ArrayBuffer.empty[String]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.synchronized {
        plans += Tracer.nodes(qe.executedPlan).map(_.simpleString(400)).mkString("\n")
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(l)
    action
    PerfbenchBus.drain(s.sparkContext)
    s.listenerManager.unregister(l)
    def percentiles(plan: String): Int = "percentile\\(".r.findAllIn(plan).size
    val n = percentiles(plans.synchronized(plans.mkString("\n")))
    out("self_test") = Map("ok" -> (n >= 6), "percentile_aggregates" -> n,
      "percentile_aggregates_under_count" ->
        percentiles(df.groupBy().count().queryExecution.optimizedPlan.toString))
  }

  // ---- kernels and host probe ----------------------------------------------

  /** Items per second of one single-threaded kernel over `items`,
    * measured for about a quarter of a second after a short warm-up. */
  private def rate[T](items: IndexedSeq[T])(f: T => Unit): Double = {
    var i = 0
    val w0 = now()
    while (secs(w0) < 0.1) { f(items(i % items.size)); i += 1 }
    var n = 0L
    val t0 = now()
    while (secs(t0) < 0.25) { f(items((n % items.size).toInt)); n += 1 }
    n / secs(t0)
  }

  /** The public kernels with the parameters the queries use: MinHash and
    * SimHash over 12-character shingles with 16 hashes, winnowing with
    * k = 8 and w = 4, Jaro-Winkler over part names, and the HLL (m = 256)
    * and CMS (eps = 0.001) aggregators over event fields. */
  private def kernels(): Map[String, Double] = {
    import graft.functions.{JaroWinkler, TextSig, WinnowKernel}
    import graft.sketch.{CmsAggregator, HllAggregator}
    val docs = spark.read.parquet(s"$dataDir/documents.parquet").select("text")
      .limit(2000).collect().map(r => UTF8String.fromString(r.getString(0))).toIndexedSeq
    val names = spark.read.parquet(s"$dataDir/part.parquet").select("p_name")
      .limit(200).collect().map(r => UTF8String.fromString(r.getString(0))).toIndexedSeq
    val pairs = for (a <- names.take(40); b <- names.take(40)) yield (a, b)
    val ev = spark.read.parquet(s"$dataDir/events.parquet")
      .selectExpr("cast(user_id as string)", "event_type").limit(5000).collect()
      .flatMap(r => Seq(r.getString(0), r.getString(1))).toIndexedSeq
    val hll = new HllAggregator(256)
    val hb = hll.zero
    val cms = new CmsAggregator(0.001, 0.99, 42)
    val cb = cms.zero
    Map(
      "functions.minhash_docs_per_s" -> rate(docs)(t => TextSig.minhash(t, 12, 16)),
      "functions.simhash_docs_per_s" -> rate(docs)(t => TextSig.simhash(t, 12)),
      "functions.winnow_docs_per_s" -> rate(docs)(t => WinnowKernel.winnow(t, 8, 4)),
      "functions.jaro_winkler_pairs_per_s" -> rate(pairs)(p => JaroWinkler.compute(p._1, p._2)),
      "sketch.hll_items_per_s" -> rate(ev)(x => hll.reduce(hb, x)),
      "sketch.cms_items_per_s" -> rate(ev)(x => cms.reduce(cb, x)))
  }

  /** `graft.Bench`'s fixed range-shuffle canary, median of three. */
  private def canary(): Double = {
    val ts = (0 until 3).map { _ =>
      val t0 = now()
      spark.range(8000000L).selectExpr("id % 997 AS k", "id % 31 AS v")
        .groupBy("k").agg(fsum(col("v")).as("s")).orderBy("k").count()
      secs(t0)
    }
    ts.sorted.apply(1)
  }

  // ---- traced pass -------------------------------------------------------------

  private def tracedPass(): Map[String, Any] = {
    val sc = spark.sparkContext
    val tracer = new Tracer(Seq(s"$scratch/pins", s"$scratch/pins-keyed"), dataDir)
    sc.addSparkListener(tracer)
    val p = runPass(1000, dump = false, Some(tracer))
    sc.removeSparkListener(tracer)
    val spans = tracer.snapshot()
    def sumOf(pred: String => Boolean): Counters = {
      val c = new Counters
      spans.collect { case (k, v) if pred(k) => c += v }
      c
    }
    val perKey = keys.map { k =>
      k -> Map("build" -> sumOf(_ == s"build\t$k").toJson, "action" -> sumOf(_ == s"action\t$k").toJson)
    }.toMap
    val perTrunk = trunks.map { case (t, _) => t -> sumOf(_ == s"trunk\t$t").toJson }.toMap
    val progress = tracer.streams.synchronized(tracer.streams.batches.toSeq).map { e =>
      val pr = e.progress
      def d(k: String): Double = Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      Map("trigger_ms" -> d("triggerExecution"), "add_batch_ms" -> d("addBatch"),
        "wal_commit_ms" -> d("walCommit"), "commit_offsets_ms" -> d("commitOffsets"),
        "state_rows" -> pr.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> pr.stateOperators.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> pr.stateOperators.map(_.commitTimeMs).sum)
    }
    p ++ Map(
      "all" -> sumOf(_ => true).toJson,
      "build" -> sumOf(_.startsWith("build\t")).toJson,
      "action" -> sumOf(_.startsWith("action\t")).toJson,
      "trunk" -> sumOf(_.startsWith("trunk\t")).toJson,
      "stream" -> sumOf(_.startsWith("stream\t")).toJson,
      "per_key" -> perKey,
      "per_trunk" -> perTrunk,
      "stream_progress" -> progress)
  }

  // ---- run -------------------------------------------------------------------

  def run(): Unit = {
    redirectScratch()
    setup()
    val t0 = now()
    // Pass 1 also writes every output for the check; later passes (while
    // the measuring time lasts) run warm.
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var i = 1
    while (passes.isEmpty || secs(t0) < seconds) {
      passes += pass(i)
      i += 1
    }
    out("passes") = passes.toSeq
    if (trace) {
      // trace.overhead compares a traced pass with an untraced one; which
      // of the two runs first (and so colder) alternates with the seed.
      if (seed % 2 == 0) {
        out("baseline_pass") = pass(i)
        out("traced_pass") = tracedPass()
      } else {
        out("traced_pass") = tracedPass()
        out("baseline_pass") = pass(i)
      }
      out("kernels") = kernels()
      out("canary_s") = canary()
    }
    spark.stop()
    Json.write(s"$runDir/result.json", out.toMap)
  }
}

/** Writes maps, sequences, strings and numbers as JSON. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: String, v: Any): Unit = mapper.writeValue(new File(path), v)
}

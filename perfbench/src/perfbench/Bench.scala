package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.corpus.{CodeCorpus, SourceFile}
import graft.index.{IndexBuilder, InvertedIndex}
import graft.lambda.{LambdaIndex, LambdaPipeline}
import graft.search.Wand
import graft.tokenize.CodeTokenizer

/** Input sizes of one run. `full` is the measured configuration; `small`
  * is the same procedure on a toy corpus, for the benchmark's own tests.
  */
final case class Sizes(
    baseFiles: Int, epochs: Int, epochFiles: Int, numParts: Int,
    freshBatch: Int, batch: Int, blendedBatch: Int, singles: Int, blendedSingles: Int,
    serveSingles: Int, serveBlended: Int, serveBatch: Int, serveCrossChecks: Int,
    replaySets: Int, replayServe: Int, lambdaSample: Int) {
  def totalFiles: Int = baseFiles + epochs * epochFiles
  /** n/128 doc-shards over the base corpus. */
  def docsPerShard: Long = math.max(1L, baseFiles / 128L)
}

object Sizes {
  /** The fixture every workload sets up: a base corpus, one appended
    * epoch of 10%, and after it reads on fresh handles (the first single
    * cold). `small` runs the same procedure on a toy corpus.
    */
  def of(size: String): Sizes = {
    val full = Sizes(baseFiles = 4000, epochs = 1, epochFiles = 400, numParts = 8,
      freshBatch = 64, batch = 4096, blendedBatch = 512,
      singles = 5, blendedSingles = 2, serveSingles = 30, serveBlended = 15,
      serveBatch = 1024, serveCrossChecks = 5, replaySets = 512, replayServe = 100,
      lambdaSample = 64)
    if (size == "small")
      full.copy(baseFiles = 600, epochFiles = 60, freshBatch = 32,
        batch = 512, blendedBatch = 128, singles = 5, blendedSingles = 2, serveSingles = 20,
        serveBlended = 10, serveBatch = 64, serveCrossChecks = 5, replaySets = 32,
        replayServe = 30, lambdaSample = 8)
    else full
  }
}

/** Named timing samples and values of one run. */
final class Samples {
  private val m = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def add(name: String, v: Double): Unit = m.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def all(name: String): Seq[Double] = m.getOrElse(name, Nil).toSeq
  def median(name: String): Double = Samples.quantile(all(name), 0.5)
}

object Samples {
  /** Nearest-rank quantile; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }
}

/** Oracle state for one index state (its doc-id map and N). */
final class Truth(val bm25: Bm25Oracle, val tokens: Array[Array[String]]) {
  val verified = mutable.HashMap[Any, Array[(Long, Double)]]()
  var lam: Option[(LambdaOracle, Array[Double])] = None
}

final class Bench(workload: String, val seed: Long, val seconds: Int, traced: Boolean,
    size: String, work: Path, traces: Path) {
  val K = 10
  val Alpha = 0.9
  val sz: Sizes = Sizes.of(size)
  val trace = new Trace(traced)
  val setupSamples = new Samples
  val roundSamples = new Samples
  /** Samples of the current part of the run (set-up or rounds). */
  var s: Samples = setupSamples
  /** A layer value: from the rounds when they recorded it, else from set-up. */
  def med(name: String): Double =
    if (roundSamples.all(name).nonEmpty) roundSamples.median(name) else setupSamples.median(name)
  private val gcStart = gcMillis()

  // ---- operations and their checks ------------------------------------
  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer[String]()

  /** One checked operation: `check` returns None when the output holds. */
  def op(name: String)(check: => Option[String]): Unit = {
    attempted += 1
    val r = try check catch { case e: Exception => Some(s"threw $e") }
    r.foreach { why =>
      failed += 1
      if (failures.size < 20) failures += s"$name: $why"
    }
  }

  // ---- Spark ----------------------------------------------------------
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName(s"perfbench-$workload")
    .config("spark.sql.shuffle.partitions", sz.numParts.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  import spark.implicits._
  private val sc = spark.sparkContext
  /** Task metrics per phase; every run needs the task CPU of the batch
    * calls, and the traced run prints all of them.
    */
  val listener: PhaseListener = { val l = new PhaseListener; sc.addSparkListener(l); l }

  def phase[T](p: String)(body: => T): T = PhaseListener.inPhase(sc, p)(body)

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threadBean = java.lang.management.ManagementFactory.getThreadMXBean
  /** CPU seconds of the whole process so far (every thread, user + system). */
  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  /** Runs a distributed call and returns (answer, wall s, CPU s), the CPU
    * being the calling thread's (planning, collecting the result) plus
    * the Spark tasks' executor CPU of its jobs, read once the listener
    * bus has delivered them.
    */
  def sparkCpuTimed[T](p: String)(body: => T): (T, Double, Double) = {
    org.apache.spark.PerfbenchListenerDrain(sc)
    val task0 = listener.counters(p).cpuNs.sum()
    val thread0 = threadBean.getCurrentThreadCpuTime
    val (r, sec) = timed(phase(p)(body))
    val thread = threadBean.getCurrentThreadCpuTime - thread0
    org.apache.spark.PerfbenchListenerDrain(sc)
    (r, sec, (listener.counters(p).cpuNs.sum() - task0 + thread) / 1e9)
  }

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Progress on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit = {
    val up = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"[perfbench] $up%7.2f s  $msg")
  }

  log("spark session ready")
  val corpus = new Corpus(seed, sz.totalFiles, trace)
  log(s"corpus of ${sz.totalFiles} files generated and tokenized")
  val params: IndexBuilder.Params =
    IndexBuilder.Params(docsPerShard = sz.docsPerShard, numParts = sz.numParts)

  def epochFiles(e: Int): Dataset[SourceFile] = {
    val lo = sz.baseFiles.toLong + (e - 1).toLong * sz.epochFiles
    val sd = seed
    spark.range(lo, lo + sz.epochFiles, 1L, sz.numParts).map(id => CodeCorpus.file(sd, id))
  }

  // ---- oracle state per index state -------------------------------------
  private val truths = mutable.HashMap[(Int, Int), Truth]()

  /** Maps the docs table to the generated files (checking every sha256)
    * and returns the oracle for this index state.
    */
  def truthFor(index: InvertedIndex, nFiles: Int): Truth = phase("check") {
    val rows = index.docs.select("docId", "repo", "path", "sha256").as[(Long, String, String, String)]
      .collect().sortBy(_._1)
    val key = (nFiles, java.util.Arrays.hashCode(rows.map(r => r._3 + r._2).asInstanceOf[Array[AnyRef]]))
    var out: Truth = truths.getOrElse(key, null)
    op("docs_table") {
      if (out != null) None
      else corpus.docTokens(rows, nFiles) match {
        case Left(why) => Some(why)
        case Right(toks) => out = new Truth(new Bm25Oracle(toks), toks); truths(key) = out; None
      }
    }
    if (out == null) throw new IllegalStateException("docs table does not map to the generated files")
    out
  }

  /** Reads the stored vocab, graph and λ table; checks λ ∈ [0,1] on every
    * row and recomputes λ for a seeded sample of documents.
    */
  def lambdaTruth(t: Truth, lam: LambdaIndex): (LambdaOracle, Array[Double]) = phase("check") {
    val vocab = spark.read.parquet(s"${lam.dir}/vocab").as[(String, Int)].collect().toMap
    val coo = spark.read.parquet(s"${lam.dir}/graph").as[(Long, Long, Double)].collect()
      .map { case (i, j, v) => (i.toInt, j.toInt, v) }
    val props = IndexBuilder.readMeta(s"${lam.dir}/graph.props")
    val lo = new LambdaOracle(vocab, coo, props("nNodes").toInt)
    val rows = lam.lambdas.as[(Long, Double)].collect()
    val n = t.tokens.length
    val stored = new Array[Double](n)
    val has = new java.util.BitSet(n)
    op("lambda_table") {
      var bad: Option[String] =
        if (props("tau") == "Mean") None else Some(s"oracle implements τ=Mean, index uses ${props("tau")}")
      rows.foreach { case (d, l) =>
        if (d < 0 || d >= n || has.get(d.toInt)) bad = bad.orElse(Some(s"λ row for doc $d out of range or repeated"))
        else if (!(l >= 0.0 && l <= 1.0)) bad = bad.orElse(Some(s"λ $l of doc $d outside [0,1]"))
        else { has.set(d.toInt); stored(d.toInt) = l }
      }
      bad
    }
    val rng = new java.util.SplittableRandom(seed ^ 0x5eedL)
    (0 until sz.lambdaSample).foreach { _ =>
      val d = rng.nextInt(n)
      op("lambda_recompute") {
        val counts = t.tokens(d).groupBy(identity).map { case (w, xs) => w -> xs.length.toDouble }
        lo.lambda(counts) match {
          case None => if (has.get(d)) Some(s"doc $d has no in-vocab term but a λ row") else None
          case Some(l) =>
            if (!has.get(d)) Some(s"doc $d has no λ row, oracle λ $l")
            else if (!Check.close(stored(d), l)) Some(s"doc $d λ ${stored(d)}, oracle $l")
            else None
        }
      }
    }
    (lo, stored)
  }

  def checkBm25(name: String, t: Truth, terms: Seq[String], ans: Array[(Long, Double)]): Unit =
    op(name) {
      val key = ("bm25", terms.distinct.sorted)
      t.verified.get(key) match {
        case Some(prev) if prev.sameElements(ans) => None
        case _ =>
          val (ids, sc) = t.bm25.scoreAll(key._2)
          val r = Check.topK(ans, ids, sc, K)
          if (r.isEmpty) t.verified(key) = ans
          r
      }
    }

  def checkBlended(name: String, t: Truth, text: String, ans: Array[(Long, Double)]): Unit =
    op(name) {
      val toks = CodeTokenizer.codeTokens(text).toSeq
      val key = ("blended", toks.sorted)
      t.verified.get(key) match {
        case Some(prev) if prev.sameElements(ans) => None
        case _ =>
          val (lo, lamD) = t.lam.get
          val lq = lo.lambda(toks.groupBy(identity).map { case (w, xs) => w -> xs.length.toDouble })
            .getOrElse(0.0)
          val ub = t.bm25.ubNorm(toks)
          val (ids, bm) = t.bm25.scoreAll(toks.distinct)
          val sc = ids.indices.map { i =>
            Alpha * bm(i) / ub + (1.0 - Alpha) * (1.0 - math.min(math.abs(lamD(ids(i)) - lq), 1.0))
          }.toArray
          val r = Check.topK(ans, ids, sc, K)
          if (r.isEmpty) t.verified(key) = ans
          r
      }
    }

  def rows(df: org.apache.spark.sql.DataFrame): Array[(Long, Double)] =
    df.select("doc_id", "score").as[(Long, Double)].collect()

  /** (qid → rows in rank order) from a batch result (qid, doc_id, score, rank). */
  def byQid(df: org.apache.spark.sql.DataFrame): Map[Int, Array[(Long, Double)]] =
    df.select("qid", "doc_id", "score", "rank").as[(Int, Long, Double, Int)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._4).map(r => (r._2, r._3)) }

  def hits(a: Array[Wand.Hit]): Array[(Long, Double)] = a.map(h => (h.docId, h.score))

  // ---- the write cycle: build, λ, appends with fresh-handle reads --------
  /** `engineS` sums the engine calls of the cycle (build, λ build,
    * appends, rebuild); the oracle and checks are outside it.
    */
  final case class Cycle(idxDir: String, lamDir: String, truth: Truth,
      buildS: Double, lambdaS: Double, appendS: Double, engineS: Double, bytesRatio: Double)

  private val lambdaStages = Seq("vocab", "docterms", "clusters", "graph", "lambdas", "lamlens")
  private val indexStages = Seq("docs", "termfreq", "doclens", "lens", "postings", "termstats")

  def writeCycle(dir: Path, tag: String): Cycle = {
    val idxDir = dir.resolve("index").toString
    val lamDir = dir.resolve("lambda").toString
    val (base, buildS) = timed(phase("build")(trace.span("index.build", tag) {
      IndexBuilder.build(spark, CodeCorpus.generate(spark, sz.baseFiles.toLong, seed, sz.numParts),
        idxDir, s"perfbench:$seed:${sz.baseFiles}", params)
    }))
    log(f"build $buildS%.2f s")
    indexStages.foreach { st =>
      val (ms, bytes) = lineage(Paths.get(idxDir, st))
      s.add(s"index.stage.${st}_s", ms / 1000.0)
      s.add(s"index.stage.${st}_bytes", bytes.toDouble)
    }
    val (lam0, lambdaS) = timed(phase("lambda")(trace.span("lambda.build", tag) {
      LambdaPipeline.build(spark, base, lamDir)
    }))
    log(f"lambda build $lambdaS%.2f s")
    lambdaStages.foreach(st => s.add(s"lambda.stage.${st}_s", lineage(Paths.get(lamDir, st))._1 / 1000.0))
    var index = base
    var appendS = 0.0
    (1 to sz.epochs).foreach { e =>
      val (idx, ia) = timed(phase("append")(trace.span("index.append", tag) {
        IndexBuilder.append(spark, epochFiles(e), idxDir, s"perfbench:$seed:e$e", params)
      }))
      val (_, la) = timed(phase("append")(trace.span("lambda.append", tag) {
        LambdaPipeline.appendEpochs(spark, idx, lamDir, Some(lam0))
      }))
      log(f"append $ia%.2f s, lambda append $la%.2f s")
      s.add("index.append_s", ia)
      s.add("lambda.append_s", la)
      appendS += ia + la
      index = idx
    }
    // a finished directory rebuilds as a no-op
    val before = stageMarks(Paths.get(idxDir))
    val (_, rebuildS) = timed(phase("build")(IndexBuilder.build(spark,
      CodeCorpus.generate(spark, sz.baseFiles.toLong, seed, sz.numParts),
      idxDir, s"perfbench:$seed:${sz.baseFiles}", params)))
    log(f"rebuild $rebuildS%.2f s")
    op("rebuild_skips_stages") {
      val after = stageMarks(Paths.get(idxDir))
      if (after == before) None
      else Some(s"stages rewritten: ${after.keySet.filter(k => after.get(k) != before.get(k)).mkString(",")}")
    }
    val ratio = treeBytes(Paths.get(idxDir)).toDouble / corpus.contentBytes(sz.totalFiles)
    // the oracle of the finished index state, after the timed calls
    val truth = truthFor(new InvertedIndex(spark, idxDir), sz.totalFiles)
    truth.lam = Some(lambdaTruth(truth, new LambdaIndex(spark, lamDir)))
    Cycle(idxDir, lamDir, truth, buildS, lambdaS, appendS, buildS + lambdaS + appendS + rebuildS, ratio)
  }

  /** A small batch as the first call of fresh handles over the appended
    * index, its answers checked against the oracle; returns the handle.
    */
  def freshReads(c: Cycle): InvertedIndex = {
    val gen = new QueryGen(seed, seed * 7919L + sz.totalFiles)
    val batch = gen.rotation(sz.freshBatch, sz.totalFiles)
    val idx = new InvertedIndex(spark, c.idxDir)
    val (bAns, bSec) = timed(phase("batch")(trace.span("search.fresh_batch")(
      byQid(idx.wandTopKBatch(batch.zipWithIndex.map { case (q, i) => (i, q.terms) }, K)))))
    s.add("index.fresh_batch_s", bSec)
    batch.indices.foreach(i => checkBm25("fresh_batch", c.truth, batch(i).terms, bAns.getOrElse(i, Array.empty)))
    idx
  }

  // ---- filesystem helpers -------------------------------------------------
  private val WallMs = """"wallMs":\s*(\d+)""".r
  private val Bytes = """"bytes":\s*(\d+)""".r

  /** (wallMs, partition bytes) summed over a stage dir's lineage files
    * (one per stage, or one per bucket of a bucketed stage).
    */
  def lineage(stageDir: Path): (Long, Long) = {
    if (!Files.exists(stageDir)) return (0L, 0L)
    val ws = Files.walk(stageDir)
    try ws.iterator().asScala.filter(_.getFileName.toString == "_lineage.json").toSeq
      .map { p =>
        val j = Files.readString(p)
        (WallMs.findFirstMatchIn(j).map(_.group(1).toLong).getOrElse(0L),
          Bytes.findAllMatchIn(j).map(_.group(1).toLong).sum)
      }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    finally ws.close()
  }

  /** Every stage marker and lineage file under `dir` → (mtime, content). */
  def stageMarks(dir: Path): Map[String, (Long, String)] = {
    val ws = Files.walk(dir)
    try ws.iterator().asScala
      .filter(p => p.getFileName.toString == "_lineage.json" || p.getFileName.toString == "_SUCCESS_STAGE")
      .map(p => dir.relativize(p).toString -> (Files.getLastModifiedTime(p).toMillis, Files.readString(p)))
      .toMap
    finally ws.close()
  }

  def treeBytes(dir: Path): Long = {
    val ws = Files.walk(dir)
    try ws.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally ws.close()
  }

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def peakRssMb(): Double = {
    val l = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
    l.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  // ---- the run ------------------------------------------------------------
  private val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  private val layer = mutable.LinkedHashMap[String, (Double, String)]()

  /** Wall time of the timed rounds; traced minus untraced on one seed is
    * the tracing overhead.
    */
  var roundsWall = 0.0
  var rounds = 0

  def run(): Unit = {
    val w = workload match {
      case "query_batch" => new QueryBatch(this)
      case "serving" => new Serving(this)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // one set-up per run: it is a cold index and λ build (see README, Limits);
    // setup_s is the time of its engine calls, not of the oracle and checks
    s = setupSamples
    val (setupSec, setupWall) = timed(trace.span("setup")(w.setup(work.resolve("setup"))))
    log(f"set-up done: engine calls $setupSec%.2f s of $setupWall%.2f s")
    s = roundSamples
    val roundsStart = System.nanoTime()
    val deadline = roundsStart + seconds * 1000000000L
    var round = 0
    do {
      trace.span("round", s"round$round")(w.round(work.resolve(s"round$round"), round))
      log(s"round $round done")
      round += 1
    } while (System.nanoTime() < deadline)
    roundsWall = (System.nanoTime() - roundsStart) / 1e9
    rounds = round
    if (traced) { trace.span("replay")(w.replay()); log("replay done") }
    e2e("setup_s") = (setupSec, "s")
    w.endToEnd(e2e)
    e2e("peak_rss_mb") = (peakRssMb(), "MB")
    if (traced) layerMetrics(w)
  }

  private def layerMetrics(w: Workload): Unit = {
    def put(n: String, v: Double, u: String): Unit = layer(n) = (v, u)
    put("corpus.gen_s", trace.seconds("corpus.gen"), "s")
    put("tokenize.s", trace.seconds("tokenize"), "s")
    put("tokenize.tokens", corpus.tokens.iterator.map(_.length.toLong).sum.toDouble, "count")
    indexStages.foreach { st =>
      put(s"index.stage.${st}_s", med(s"index.stage.${st}_s"), "s")
      put(s"index.stage.${st}_bytes", med(s"index.stage.${st}_bytes"), "bytes")
    }
    put("index.append_s", med("index.append_s"), "s")
    put("index.fresh_batch_s", med("index.fresh_batch_s"), "s")
    lambdaStages.foreach(st => put(s"lambda.stage.${st}_s", med(s"lambda.stage.${st}_s"), "s"))
    put("lambda.append_s", med("lambda.append_s"), "s")
    w.layers(put)
    org.apache.spark.PerfbenchListenerDrain(sc)
    Some(listener).foreach { l =>
      Seq("build", "append", "lambda", "batch", "blended", "serve").foreach { p =>
        val c = l.counters(p)
        put(s"spark.$p.jobs", c.jobs.sum().toDouble, "count")
        put(s"spark.$p.tasks", c.tasks.sum().toDouble, "count")
        put(s"spark.$p.executor_cpu_s", c.cpuNs.sum() / 1e9, "s")
        put(s"spark.$p.gc_s", c.gcMs.sum() / 1e3, "s")
        put(s"spark.$p.shuffle_write_bytes", c.shuffleWrite.sum().toDouble, "bytes")
        put(s"spark.$p.spill_bytes", c.spill.sum().toDouble, "bytes")
      }
    }
    put("jvm.gc_s", (gcMillis() - gcStart) / 1e3, "s")
    val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    put("jvm.heap_peak_mb", heapPeak / 1048576.0, "MB")
  }

  def report(): String = {
    val metrics = if (traced) layer else e2e
    metrics.foreach { case (n, (v, u)) => println(f"$workload%-12s $n%-44s ${Json.num(v)}%s $u") }
    println(s"$workload attempted $attempted failed $failed")
    println(f"$workload rounds $rounds rounds_wall_s ${Json.num(roundsWall)}%s traced $traced")
    val missing = metrics.collect { case (n, (v, _)) if v.isNaN || v.isInfinite => n }
    if (missing.nonEmpty) throw new IllegalStateException(s"no value for ${missing.mkString(", ")}")
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    if (traced) {
      val out = traces.resolve(s"$workload-seed$seed.json")
      Files.writeString(out, trace.toJson)
      System.err.println(s"[perfbench] spans written to $out")
    }
    val m = metrics.map { case (n, (v, u)) => s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${m.mkString(", ")}}}"""
  }

  def close(): Unit = spark.stop()
}

/** One workload: its set-up, whole timed rounds, the traced
  * layer-by-layer replay, and the metrics.
  */
trait Workload {
  /** Sets up and returns the seconds spent in engine calls. */
  def setup(dir: Path): Double
  def round(dir: Path, r: Int): Unit
  def replay(): Unit
  def endToEnd(out: mutable.LinkedHashMap[String, (Double, String)]): Unit
  def layers(put: (String, Double, String) => Unit): Unit
}

object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val work = Paths.get(need("work"))
    val bench = new Bench(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", kv.getOrElse("size", "full"), work, Paths.get(need("traces")))
    val line = try { bench.run(); bench.report() } finally bench.close()
    println(line)
  }
}

package perfbench

import java.nio.file.Path
import scala.collection.mutable
import graft.index.{DecodedCursor, DecodedList, InvertedIndex, PostingStats}
import graft.lambda.LambdaIndex
import graft.search.{LocalBlended, LocalSearcher, Wand}
import graft.tokenize.CodeTokenizer

/** Shared pieces of both workloads: the set-up's write-path values,
  * serving replicas, and the traced layer-by-layer replay.
  */
abstract class BaseWorkload(val b: Bench) extends Workload {
  import b.{K, Alpha, sz, trace, timed, phase}

  type Out = mutable.LinkedHashMap[String, (Double, String)]

  protected var last: b.Cycle = _

  /** The set-up's write path: one cold build, λ build and append per run
    * is too noisy on a shared machine for an end-to-end bound, so only the
    * storage ratio is end-to-end and the rates are per-layer values.
    */
  protected def writeMetrics(out: Out): Unit =
    out("index_bytes_per_input_byte") = (last.bytesRatio, "ratio")

  protected def writeLayers(): Unit = {
    put("write.build_files_per_s", sz.baseFiles / last.buildS, "files/s")
    put("write.append_files_per_s", sz.epochs * sz.epochFiles / last.appendS, "files/s")
    put("write.lambda_build_s", last.lambdaS, "s")
  }

  protected def median(name: String): Double = b.s.median(name)

  // ---- serving replicas ---------------------------------------------------
  protected var searcher: LocalSearcher = _
  protected var blended: LocalBlended = _
  protected var serveIndex: InvertedIndex = _

  /** Loads both replicas over a fresh handle of the cycle's index and
    * returns the seconds the two loads took.
    */
  protected def loadReplicas(c: b.Cycle): Double = phase("serve") {
    serveIndex = new InvertedIndex(b.spark, c.idxDir)
    val lam = new LambdaIndex(b.spark, c.lamDir)
    val (ls, t1) = timed(trace.span("search.serve.replica_load")(LocalSearcher.fromIndex(serveIndex)))
    val (lb, t2) = timed(trace.span("search.serve.blended_replica_load")(LocalBlended.fromIndexes(serveIndex, lam)))
    b.s.add("search.serve.replica_load_s", t1)
    b.s.add("search.serve.blended_replica_load_s", t2)
    searcher = ls
    blended = lb
    t1 + t2
  }

  // ---- the traced replay --------------------------------------------------
  protected val layer = mutable.LinkedHashMap[String, (Double, String)]()
  protected def put(n: String, v: Double, u: String): Unit = layer(n) = (v, u)

  /** Replays one `wandTopKBatch` call layer by layer through the public
    * calls: postingsFor collect (scan) and DecodedList.from (decode) over
    * the call's whole term set, then Wand.topK over DecodedCursors
    * (kernel) and LocalSearcher.mergeTopK (merge) over a seeded sample of
    * its distinct term sets; and the blended kernel over the λ side
    * arrays. `sets` are the call's queries and `wallS` its wall time.
    */
  protected def replayBatch(c: b.Cycle, sets: Seq[Seq[String]], blendedTexts: Seq[String],
      wallS: Double): Unit = {
    val index = new InvertedIndex(b.spark, c.idxDir)
    val lam = new LambdaIndex(b.spark, c.lamDir)
    val rng = new java.util.SplittableRandom(b.seed ^ 0x7e91L)
    val distinct = sets.map(_.distinct.sorted).distinct
    val sample = pick(distinct, sz.replaySets, rng)
    val terms = distinct.flatten.distinct
    val (info, tInfo) = timed(trace.span("replay.term_info")(index.termInfo(terms)))
    val (lists, tScan) = timed(phase("batch")(trace.span("replay.scan")(
      index.postingsFor(terms.filter(info.contains)).collect())))
    val scanBytes = lists.iterator.map(l => l.docBytes.length.toLong + l.tfBytes.length).sum
    val (blk0, byt0) = (PostingStats.decoded(), PostingStats.bytes())
    val p = index.bm25
    val ad = index.avgdl
    val lh = index.lensHandle
    val (decoded, tDec) = timed(trace.span("replay.decode")(lists.map(pl =>
      DecodedList.from(pl, p, ad, lh.forShard(pl.shard), pl.shard.toLong * lh.docsPerShard))))
    val (blk, byt) = (PostingStats.decoded() - blk0, PostingStats.bytes() - byt0)
    val byShard: Seq[(Int, Map[String, Array[DecodedList]])] =
      decoded.groupBy(_.shard).toSeq.sortBy(_._1).map { case (sh, ds) => sh -> ds.groupBy(_.term) }
    val ws = new Wand.Workspace
    def cursors(m: Map[String, Array[DecodedList]], ts: Seq[String]): Seq[Wand.Cursor] =
      ts.flatMap(t => m.getOrElse(t, Array.empty[DecodedList]).map(d => new DecodedCursor(d, info(t)._1)))
    var kernelNs, mergeNs = 0L
    var shardHits = 0L
    trace.span("replay.kernel_merge") {
      sample.foreach { ts =>
        val t0 = System.nanoTime()
        val parts = byShard.flatMap { case (_, m) =>
          val cs = cursors(m, ts)
          if (cs.isEmpty) None else Some(Wand.topK(cs, K, ws))
        }
        val t1 = System.nanoTime()
        LocalSearcher.mergeTopK(parts, K)
        mergeNs += System.nanoTime() - t1
        kernelNs += t1 - t0
        shardHits += parts.count(_.nonEmpty)
      }
    }
    put("search.batch.distinct_sets", distinct.size.toDouble, "count")
    put("search.batch.replay_sets", sample.size.toDouble, "count")
    put("search.batch.term_info_s", tInfo, "s")
    put("search.batch.scan_s", tScan, "s")
    put("search.batch.scan_bytes", scanBytes.toDouble, "bytes")
    put("search.batch.decode_s", tDec, "s")
    put("search.batch.blocks_decoded", blk.toDouble, "count")
    put("search.batch.bytes_decoded", byt.toDouble, "bytes")
    put("search.batch.kernel_s", kernelNs / 1e9, "s")
    put("search.batch.merge_s", mergeNs / 1e9, "s")
    put("search.batch.shard_hits", shardHits.toDouble, "count")
    // an estimate: the call's wall time less the replay's layers, decode
    // and the kernel and merge (scaled from the sample to every distinct
    // set) spread over the cores
    val scale = distinct.size.toDouble / math.max(1, sample.size)
    put("search.batch.wall_s", wallS, "s")
    put("search.batch.sched_exchange_s",
      wallS - tScan - (tDec + (kernelNs + mergeNs) / 1e9 * scale) / b.cores, "s")

    // blended kernel over the λ side arrays, and queryLambda itself
    val lamH = lam.lamHandle(index.docsPerShard)
    val k1p1 = p.k1 + 1.0
    var lqNs, bkNs = 0L
    var bHits = 0L
    val texts = pick(blendedTexts.distinct, sz.replaySets, rng)
    val blTerms = texts.flatMap(t => CodeTokenizer.codeTokens(t)).distinct
    val blInfo = index.termInfo(blTerms)
    val blShards: Seq[(Int, Map[String, Array[DecodedList]])] =
      phase("batch")(index.postingsFor(blTerms.filter(blInfo.contains)).collect())
        .map(pl => DecodedList.from(pl, p, ad, lh.forShard(pl.shard), pl.shard.toLong * lh.docsPerShard))
        .groupBy(_.shard).toSeq.sortBy(_._1).map { case (sh, ds) => sh -> ds.groupBy(_.term) }
    lam.queryLambda(Map.empty) // loads vocab and graph before timing
    trace.span("replay.blended") {
      texts.foreach { text =>
        val toks = CodeTokenizer.codeTokens(text).toSeq
        val t0 = System.nanoTime()
        val lq = lam.queryLambda(toks.groupBy(identity).map { case (w, xs) => w -> xs.size })
        val t1 = System.nanoTime()
        val ts = toks.distinct.filter(blInfo.contains).sorted
        val ubNorm = math.max(ts.map(blInfo(_)._1 * k1p1).sum, 1e-12)
        blShards.foreach { case (sh, m) =>
          val cs = ts.flatMap(t => m.getOrElse(t, Array.empty[DecodedList]).map(d => new DecodedCursor(d, blInfo(t)._1)))
          if (cs.nonEmpty) {
            val lamArr = lamH.forShard(sh)
            val base = sh.toLong * index.docsPerShard
            val h = Wand.blendedTopK(cs, K, Alpha, ubNorm, lq, d => lamArr((d - base).toInt), ws)
            if (h.nonEmpty) bHits += 1
          }
        }
        lqNs += t1 - t0
        bkNs += System.nanoTime() - t1
      }
    }
    put("lambda.query_lambda_us", lqNs / 1e3 / math.max(1, texts.size), "us")
    put("search.blended.kernel_s", bkNs / 1e9, "s")
    put("search.blended.shard_hits", bHits.toDouble, "count")
  }

  /** Replays serving queries layer by layer over the loaded replica:
    * tokenize → termInfo → kernel → merge, in µs per query.
    */
  protected def replayServe(queries: Seq[Query]): Unit = {
    var tok, info, kern, merge = 0L
    val ws = new Wand.Workspace
    trace.span("replay.serve") {
      queries.foreach { q =>
        val t0 = System.nanoTime()
        val toks = CodeTokenizer.codeTokens(q.text).distinct.filter(searcher.byTerm.contains).sorted.toSeq
        val t1 = System.nanoTime()
        val idf = searcher.termInfoFn(toks)
        val t2 = System.nanoTime()
        val lists = toks.filter(idf.contains).flatMap(t => searcher.byTerm(t).map(d => (t, d)))
        val parts = lists.groupBy(_._2.shard).toSeq.sortBy(_._1).map { case (_, ds) =>
          Wand.topK(ds.map { case (t, d) => new DecodedCursor(d, idf(t)._1) }, K, ws)
        }
        val t3 = System.nanoTime()
        LocalSearcher.mergeTopK(parts, K)
        val t4 = System.nanoTime()
        tok += t1 - t0; info += t2 - t1; kern += t3 - t2; merge += t4 - t3
      }
    }
    val n = math.max(1, queries.size).toDouble
    put("search.serve.tokenize_us", tok / 1e3 / n, "us")
    put("search.serve.term_info_us", info / 1e3 / n, "us")
    put("search.serve.kernel_us", kern / 1e3 / n, "us")
    put("search.serve.merge_us", merge / 1e3 / n, "us")
  }

  /** Serving singles through the replicas: (BM25 latencies by class,
    * blended latencies, queries that carried a term not sent before).
    */
  protected def serveSingles(queries: Seq[(Query, Boolean)], seen: mutable.Set[String],
      truth: Truth, check: Boolean): Int = {
    var cold = 0
    queries.foreach { case (q, isBlended) =>
      if (q.terms.exists(t => !seen.contains(t))) cold += 1
      seen ++= q.terms
      if (!isBlended) {
        val (a, sec) = timed(phase("serve")(trace.span("serve.single", q.cls)(searcher.topK(q.terms, K))))
        b.s.add("serve.single_s", sec)
        b.s.add(s"serve.single.${q.cls}_s", sec)
        if (check) b.checkBm25("serve_single", truth, q.terms, b.hits(a))
      } else {
        val (a, sec) = timed(phase("serve")(trace.span("serve.blended_single", q.cls)(blended.topK(q.text, K, Alpha))))
        b.s.add("serve.blended_single_s", sec)
        if (check) b.checkBlended("serve_blended_single", truth, q.text, b.hits(a))
      }
    }
    cold
  }

  protected def serveLayers(coldQueries: Double): Unit = {
    put("search.serve.replica_load_s", b.med("search.serve.replica_load_s"), "s")
    put("search.serve.blended_replica_load_s", b.med("search.serve.blended_replica_load_s"), "s")
    Query.Classes.foreach(c => put(s"search.serve.${c}_p50_ms", b.med(s"serve.single.${c}_s") * 1e3, "ms"))
    put("search.serve.p99_ms", Samples.quantile(b.roundSamples.all("serve.single_s") ++
      b.setupSamples.all("serve.single_s"), 0.99) * 1e3, "ms")
    put("search.serve.blended_p99_ms", Samples.quantile(b.roundSamples.all("serve.blended_single_s") ++
      b.setupSamples.all("serve.blended_single_s"), 0.99) * 1e3, "ms")
    put("search.serve.cold_term_queries", coldQueries, "count")
  }

  /** In the workloads without a serving tier the traced run loads one and
    * replays a serving stream over it, so every serving layer is measured.
    */
  protected def replayServingTier(c: b.Cycle): Unit = {
    loadReplicas(c)
    val gen = new QueryGen(b.seed, b.seed * 31L + 977L)
    val qs = (gen.rotation(Query.Classes.size, sz.totalFiles) ++
      gen.mix(sz.replayServe, sz.totalFiles, Query.Even)).zipWithIndex.map { case (q, i) => (q, i % 3 == 2) }
    val cold = serveSingles(qs, mutable.Set[String](), c.truth, check = false)
    replayServe(qs.map(_._1))
    serveLayers(cold)
  }

  protected def singleLayers(cold: Double, classOf: String => String): Unit = {
    put("search.single.cold_s", cold, "s")
    Query.Classes.foreach(c => put(s"search.single.${c}_p50_s", b.med(classOf(c)), "s"))
  }

  def layers(out: (String, Double, String) => Unit): Unit = layer.foreach { case (n, (v, u)) => out(n, v, u) }

  protected def pick[T: scala.reflect.ClassTag](xs: Seq[T], n: Int, rng: java.util.SplittableRandom): Seq[T] =
    if (xs.size <= n) xs
    else {
      val a = xs.toArray
      (0 until n).foreach { i => val j = i + rng.nextInt(a.length - i); val t = a(i); a(i) = a(j); a(j) = t }
      a.take(n).toSeq
    }
}

/** query_batch: the distributed read path. Set-up builds base + epochs and
  * the λ index; each round opens fresh handles and runs the BM25 batch as
  * BatchCalls calls of distinct queries; the median call gives the batch
  * throughput. The traced run then also times, on fresh handles, one cold
  * single, the blended batch as BlendedCalls calls, warm singles and
  * blended singles: results without a bound (see README), so the untraced
  * runs leave them out.
  */
final class QueryBatch(b0: Bench) extends BaseWorkload(b0) {
  import b.{K, Alpha, sz, trace, timed, phase}
  private lazy val gen = new QueryGen(b.seed, b.seed * 104729L + 1L)
  private val BatchCalls = 4
  private val BlendedCalls = 2
  // the classes in turn: every call holds each class in the same share
  private lazy val batch = gen.rotation(sz.batch, sz.totalFiles)
  private lazy val blBatch = gen.rotation(sz.blendedBatch, sz.totalFiles)
  private lazy val calls = batch.zipWithIndex.grouped(sz.batch / BatchCalls).toSeq
  private lazy val blCalls = blBatch.zipWithIndex.grouped(sz.blendedBatch / BlendedCalls).toSeq
  private lazy val singles = gen.rotation(sz.singles + 1, sz.totalFiles)
  private lazy val blSingles = gen.rotation(sz.blendedSingles, sz.totalFiles)

  def setup(dir: Path): Double = {
    last = b.writeCycle(dir, "setup")
    last.engineS
  }

  def round(dir: Path, r: Int): Unit = {
    // the first call of fresh handles is a small batch; it takes the cold
    // cost, so the timed calls after it measure the warm batch path
    val idx = b.freshReads(last)
    val bAns = calls.map { c =>
      val (a, sec, cpu) = b.sparkCpuTimed("batch")(trace.span("search.batch")(
        b.byQid(idx.wandTopKBatch(c.map { case (q, i) => (i, q.terms) }, K))))
      b.s.add("batch_s", sec)
      b.s.add("batch_cpu_s", cpu)
      a
    }.reduce(_ ++ _)
    b.log("query_batch round: batch calls " + b.s.all("batch_s").takeRight(BatchCalls).map(x => f"$x%.2f").mkString(" ") + " s, cpu " +
      b.s.all("batch_cpu_s").takeRight(BatchCalls).map(x => f"$x%.2f").mkString(" ") + " s")
    batch.indices.foreach(i => b.checkBm25("batch", last.truth, batch(i).terms, bAns.getOrElse(i, Array.empty)))
  }

  /** The unbounded results, on fresh handles: one cold single, the blended
    * batch, warm singles and blended singles, each answer checked.
    */
  private def results(): Unit = {
    val idx = new InvertedIndex(b.spark, last.idxDir)
    val lam = new LambdaIndex(b.spark, last.lamDir)
    val t = last.truth
    val (coldAns, coldS) = timed(phase("batch")(trace.span("search.single_cold", singles.head.cls)(
      b.rows(idx.wandTopK(singles.head.terms, K)))))
    b.s.add("single_cold_s", coldS)
    val blAns = blCalls.map { c =>
      val (a, sec) = timed(phase("blended")(trace.span("search.blended_batch")(
        b.byQid(lam.blendedTopKBatch(idx, c.map { case (q, i) => (i, q.text) }, K, Alpha)))))
      b.s.add("blended_batch_s", sec)
      a
    }.reduce(_ ++ _)
    val sAns = singles.tail.map { q =>
      val (a, sec) = timed(phase("batch")(trace.span("search.single", q.cls)(b.rows(idx.wandTopK(q.terms, K)))))
      b.s.add("single_s", sec)
      b.s.add(s"single.${q.cls}_s", sec)
      a
    }
    val blsAns = blSingles.map { q =>
      val (a, sec) = timed(phase("blended")(trace.span("search.blended_single", q.cls)(
        b.rows(lam.blendedTopK(idx, q.text, K, Alpha)))))
      b.s.add("blended_single_s", sec)
      a
    }
    b.checkBm25("single", t, singles.head.terms, coldAns)
    singles.tail.zip(sAns).foreach { case (q, a) => b.checkBm25("single", t, q.terms, a) }
    blBatch.indices.foreach(i => b.checkBlended("blended_batch", t, blBatch(i).text, blAns.getOrElse(i, Array.empty)))
    blSingles.zip(blsAns).foreach { case (q, a) => b.checkBlended("blended_single", t, q.text, a) }
    put("result.blended_batch_qps", sz.blendedBatch / BlendedCalls / median("blended_batch_s"), "q/s")
    put("result.single_p50_ms", median("single_s") * 1e3, "ms")
    put("result.blended_single_p50_ms", median("blended_single_s") * 1e3, "ms")
  }

  def replay(): Unit = {
    writeLayers()
    put("result.batch_qps", sz.batch / BatchCalls / median("batch_s"), "q/s")
    results()
    // the account of one call: its queries and the median call's wall time
    replayBatch(last, calls.head.map(_._1.terms), blBatch.map(_.text), median("batch_s"))
    singleLayers(median("single_cold_s"), c => s"single.${c}_s")
    replayServingTier(last)
  }

  def endToEnd(out: Out): Unit = {
    writeMetrics(out)
    out("batch_cpu_ms_per_query") = (b.roundSamples.median("batch_cpu_s") * 1e3 / (sz.batch / BatchCalls), "ms")
  }
}

/** serving: the in-memory tier. Set-up builds the indexes and loads one
  * LocalSearcher and one LocalBlended replica; each round is a closed
  * loop of one client sending a fresh seeded stream of singles (one in
  * three blended), then batch calls on each replica for half the run's
  * seconds each, then a few cross-checks against the distributed tier.
  */
final class Serving(b0: Bench) extends BaseWorkload(b0) {
  import b.{K, Alpha, sz, trace, timed, phase}
  private val seen = mutable.Set[String]()
  private var cold = 0
  private var lastStream: Seq[(Query, Boolean)] = Nil
  private var lastBatch: Seq[Query] = Nil
  private val WarmupS = 1.0
  private val MinCalls = 5

  def setup(dir: Path): Double = {
    last = b.writeCycle(dir, "setup")
    val loadS = loadReplicas(last)
    // the stems Q1, Q3 and Q4 repeat: their term stats are fetched once,
    // here, so the stream's first-seen terms are the rare Q2/Q5 ones
    val pool = Query.CommonStems ++ Query.MediumStems :+ Query.HotStem
    val (_, statsS) = timed(phase("serve")(searcher.termInfoFn(pool)))
    seen.clear()
    seen ++= pool
    last.engineS + loadS + statsS
  }

  /** Calls `call` until `secs` have passed (at least MinCalls times),
    * recording each call's wall seconds under `name` and its process CPU
    * seconds beside it; returns the last answer.
    */
  private def window[T](name: String, secs: Double)(call: => T): T = {
    val end = System.nanoTime() + (secs * 1e9).toLong
    var out: Option[T] = None
    var n = 0
    while (n < MinCalls || System.nanoTime() < end) {
      val c0 = b.cpuSeconds()
      val (a, t) = timed(phase("serve")(trace.span(name.stripSuffix("_s"))(call)))
      b.s.add(name, t)
      b.s.add(name.stripSuffix("_s") + "_cpu_s", b.cpuSeconds() - c0)
      out = Some(a)
      n += 1
    }
    out.get
  }

  def round(dir: Path, r: Int): Unit = {
    val t = last.truth
    val gen = new QueryGen(b.seed, b.seed * 15485863L + r)
    val n = sz.serveSingles + sz.serveBlended
    // one query of each class first, so every class has a latency sample
    val stream = (gen.rotation(Query.Classes.size, sz.totalFiles) ++
      gen.mix(n - Query.Classes.size, sz.totalFiles, Query.Even)).zipWithIndex
      .map { case (q, i) => (q, i % 3 == 2) }
    val (c, streamS) = timed(serveSingles(stream, seen, t, check = true))
    cold += c
    b.log(f"serving stream: ${stream.size} singles, $c first-seen, $streamS%.2f s")
    val batch = gen.rotation(sz.serveBatch, sz.totalFiles)
    val bq = batch.zipWithIndex.map { case (q, i) => (i, q.terms) }
    val blq = batch.zipWithIndex.map { case (q, i) => (i, q.text) }
    // full-size warm-up calls for WarmupS (the first fetches the batch's
    // new term stats), then each replica's batch over a window: its mean
    // CPU per call is end-to-end, its median call the traced throughput
    val warmEnd = System.nanoTime() + (WarmupS * 1e9).toLong
    var warm = 0
    while (warm < 2 || System.nanoTime() < warmEnd) {
      phase("serve")(searcher.topKBatch(bq, K))
      phase("serve")(blended.topKBatch(blq, K, Alpha))
      warm += 1
    }
    val bAns = window("serve.batch_s", b.seconds / 2.0)(searcher.topKBatch(bq, K))
    val blAns = window("serve.blended_batch_s", b.seconds / 2.0)(blended.topKBatch(blq, K, Alpha))
    b.log(s"serving batches: $warm warm-up calls each, ${b.s.all("serve.batch_s").size} and " +
      s"${b.s.all("serve.blended_batch_s").size} timed calls")
    bAns.foreach { case (i, a) => b.checkBm25("serve_batch", t, batch(i).terms, b.hits(a)) }
    blAns.foreach { case (i, a) => b.checkBlended("serve_blended_batch", t, batch(i).text, b.hits(a)) }
    // a serving answer equals the distributed answer for the same query:
    // one distributed batch of a query per class, and one blended single
    val lam = new LambdaIndex(b.spark, last.lamDir)
    val checks = gen.rotation(sz.serveCrossChecks, sz.totalFiles)
    val dist = phase("batch")(b.byQid(serveIndex.wandTopKBatch(checks.zipWithIndex.map { case (q, i) => (i, q.terms) }, K)))
    checks.zipWithIndex.foreach { case (q, i) =>
      b.op("serve_equals_distributed")(Check.same(b.hits(searcher.topK(q.terms, K)), dist.getOrElse(i, Array.empty)))
    }
    stream.filter(_._2).take(1).foreach { case (q, _) =>
      val d = phase("blended")(b.rows(lam.blendedTopK(serveIndex, q.text, K, Alpha)))
      b.op("serve_blended_equals_distributed")(Check.same(b.hits(blended.topK(q.text, K, Alpha)), d))
    }
    lastStream = stream
    lastBatch = batch
  }

  def replay(): Unit = {
    writeLayers()
    b.freshReads(last)
    // the distributed account of the serving batch: its own wall time on the distributed tier
    val (_, wall) = timed(phase("batch")(trace.span("search.batch")(
      b.byQid(serveIndex.wandTopKBatch(lastBatch.zipWithIndex.map { case (q, i) => (i, q.terms) }, K)))))
    replayBatch(last, lastBatch.map(_.terms), lastBatch.map(_.text), wall)
    // distributed singles on a fresh handle: the first cold, then one per class
    val idx = new InvertedIndex(b.spark, last.idxDir)
    new QueryGen(b.seed, b.seed * 6151L).rotation(Query.Classes.size + 1, sz.totalFiles).zipWithIndex.foreach {
      case (q, i) =>
        val (_, sec) = timed(phase("batch")(trace.span("search.single", q.cls)(b.rows(idx.wandTopK(q.terms, K)))))
        b.s.add(if (i == 0) "single_cold_s" else s"single.${q.cls}_s", sec)
    }
    singleLayers(median("single_cold_s"), c => s"single.${c}_s")
    replayServe(pick(lastStream.map(_._1), sz.replayServe, new java.util.SplittableRandom(b.seed)))
    serveLayers(cold)
    put("result.batch_qps", sz.serveBatch / median("serve.batch_s"), "q/s")
    put("result.blended_batch_qps", sz.serveBatch / median("serve.blended_batch_s"), "q/s")
    put("result.single_p50_ms", median("serve.single_s") * 1e3, "ms")
    put("result.blended_single_p50_ms", median("serve.blended_single_s") * 1e3, "ms")
  }

  def endToEnd(out: Out): Unit = {
    writeMetrics(out)
    // the mean over the window: the process CPU clock has a 10 ms grain,
    // and back-to-back calls sum to the window's CPU at that grain
    val cpu = b.roundSamples.all("serve.batch_cpu_s")
    out("batch_cpu_ms_per_query") = (cpu.sum / cpu.size * 1e3 / sz.serveBatch, "ms")
  }
}

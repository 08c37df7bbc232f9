package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import graft.corpus.{CodeCorpus, SourceFile}
import graft.tokenize.CodeTokenizer

/** One query of the FIXTURES §B classes. Blended calls take its text. */
final case class Query(cls: String, terms: Seq[String]) {
  def text: String = terms.mkString(" ")
}

object Query {
  val Classes: Seq[String] = Seq("q1_common", "q2_needle", "q3_multi", "q4_hot", "q5_perturbed")
  /** The stems Q1, Q3 and Q4 draw from (CodeCorpus.Stems is most-common-first). */
  val CommonStems: Seq[String] = CodeCorpus.Stems.slice(1, 9)
  val MediumStems: Seq[String] = CodeCorpus.Stems.slice(30, 76)
  val HotStem: String = CodeCorpus.Stems(0)

  /** Class weights of the FIXTURES §B batch mix: one fifth each. */
  val Even: Seq[Int] = Seq(1, 1, 1, 1, 1)
}

/** Seeded query streams over a corpus of `nFiles` generated files.
  *  - Q1 one common stem (ranks 1–8): few distinct sets, repeat often
  *  - Q2 the needle subtoken of a file drawn over the whole corpus
  *  - Q3 three medium-df stems (ranks 30–75)
  *  - Q4 the hottest stem, `get`
  *  - Q5 the first six distinct tokens of a drawn file, one swapped for
  *    a common stem
  * Q2 and Q5 carry a per-file rare term, so each one brings terms a
  * reader has most likely not seen yet.
  */
final class QueryGen(corpusSeed: Long, streamSeed: Long) {
  private val rng = new SplittableRandom(streamSeed)
  import Query.{CommonStems, MediumStems, HotStem}

  def next(cls: String, nFiles: Int): Query = cls match {
    case "q1_common" => Query(cls, Seq(CommonStems(rng.nextInt(CommonStems.size))))
    case "q2_needle" =>
      val id = rng.nextInt(nFiles).toLong
      Query(cls, Seq(CodeTokenizer.codeTokens(CodeCorpus.needleToken(corpusSeed, id))(1)))
    case "q3_multi" =>
      val picks = scala.collection.mutable.LinkedHashSet[String]()
      while (picks.size < 3) picks += MediumStems(rng.nextInt(MediumStems.size))
      Query(cls, picks.toSeq)
    case "q4_hot" => Query(cls, Seq(HotStem))
    case "q5_perturbed" =>
      val f = CodeCorpus.file(corpusSeed, rng.nextInt(nFiles).toLong)
      val ts = CodeTokenizer.codeTokens(f.content).distinct.take(6).toSeq
      Query(cls, ts.dropRight(1) :+ CommonStems(rng.nextInt(CommonStems.size)))
  }

  /** `n` queries cycling through the classes in order (every class gets
    * a share of a short run of singles).
    */
  def rotation(n: Int, nFiles: Int): Vector[Query] =
    Vector.tabulate(n)(i => next(Query.Classes(i % Query.Classes.length), nFiles))

  /** `n` queries; class i of `weights` is drawn with weight(i). */
  def mix(n: Int, nFiles: Int, weights: Seq[Int]): Vector[Query] = {
    val total = weights.sum
    Vector.fill(n) {
      var r = rng.nextInt(total)
      var c = 0
      while (r >= weights(c)) { r -= weights(c); c += 1 }
      next(Query.Classes(c), nFiles)
    }
  }
}

/** The generated files of one run (ids 0 until nFiles; the base index
  * holds a prefix, each epoch the next slice) and the map from the
  * engine's doc ids back to them.
  */
final class Corpus(val seed: Long, val nFiles: Int, trace: Trace) {
  val files: Array[SourceFile] =
    trace.span("corpus.gen")(Array.tabulate(nFiles)(i => CodeCorpus.file(seed, i.toLong)))
  private val idOf: Map[(String, String), Int] =
    files.indices.iterator.map(i => (files(i).repo, files(i).path) -> i).toMap
  val tokens: Array[Array[String]] =
    trace.span("tokenize")(files.map(f => CodeTokenizer.codeTokens(f.content)))

  def contentBytes(upTo: Int): Long =
    files.iterator.take(upTo).map(_.content.getBytes(UTF_8).length.toLong).sum

  /** Tokens by engine doc id, from the docs table rows
    * (docId, repo, path, sha256). Every file must appear once, ids must be
    * dense, and each sha256 must equal CodeCorpus.sha256Of of the file.
    */
  def docTokens(rows: Array[(Long, String, String, String)], expectFiles: Int): Either[String, Array[Array[String]]] = {
    if (rows.length != expectFiles) return Left(s"docs table has ${rows.length} rows, expected $expectFiles")
    val out = new Array[Array[String]](rows.length)
    val used = new java.util.BitSet(nFiles)
    rows.foreach { case (docId, repo, path, sha) =>
      if (docId < 0 || docId >= rows.length || out(docId.toInt) != null)
        return Left(s"doc id $docId out of range or repeated")
      val fid = idOf.getOrElse((repo, path), -1)
      if (fid < 0 || fid >= expectFiles || used.get(fid)) return Left(s"doc $docId maps to no single file")
      if (sha != CodeCorpus.sha256Of(files(fid))) return Left(s"doc $docId sha256 differs from the file")
      used.set(fid)
      out(docId.toInt) = tokens(fid)
    }
    Right(out)
  }
}

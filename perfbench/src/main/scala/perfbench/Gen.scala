package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

/** Seeded input generators. Every input of every workload is a pure
  * function of the `--seed` argument: the same seed gives the same
  * vocabulary, corpus, queries, change sets, stream files and curate
  * documents. The engine sees only the generated data.
  */
final class Gen(seed: Long) {
  private def rng(stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** 5,000 distinct pseudo-words built from consonant-vowel syllables. */
  val vocab: Array[String] = {
    val r = rng(1)
    val cons = "bcdfghjklmnprstvz"
    val vow = "aeiou"
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < Gen.VocabSize) {
      val n = 2 + r.nextInt(3)
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        sb += cons.charAt(r.nextInt(cons.length)); sb += vow.charAt(r.nextInt(vow.length))
      }
      if (r.nextInt(3) == 0) sb += cons.charAt(r.nextInt(cons.length))
      val w = sb.toString
      if (!graft.functions.TextAnalyzer.stopwords.contains(w)) seen.add(w)
    }
    seen.toArray(new Array[String](0))
  }

  /** Zipf(s = 1) over vocabulary ranks. */
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Gen.VocabSize)(i => 1.0 / (i + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  def zipfWord(r: SplittableRandom): String = {
    val u = r.nextDouble()
    var i = java.util.Arrays.binarySearch(zipfCdf, u)
    if (i < 0) i = -i - 1
    vocab(math.min(i, Gen.VocabSize - 1))
  }

  def text(r: SplittableRandom, minWords: Int, maxWords: Int): String = {
    val n = minWords + r.nextInt(maxWords - minWords + 1)
    (0 until n).map(_ => zipfWord(r)).mkString(" ")
  }

  /** One corpus document: id, body, category, price, updated_at. */
  def doc(r: SplittableRandom, id: Long, at: Timestamp): Gen.Doc =
    Gen.Doc(id, text(r, 30, 120), s"cat${r.nextInt(8)}",
      math.round(r.nextDouble() * 100000) / 100.0, at)

  def corpus(n: Int, at: Timestamp): IndexedSeq[Gen.Doc] = {
    val r = rng(2)
    (1 to n).map(i => doc(r, i.toLong, at))
  }

  /** Query texts of 1–3 Zipf terms. */
  def queries(n: Int, stream: Long = 3): IndexedSeq[String] = {
    val r = rng(stream)
    (0 until n).map(_ => (0 until 1 + r.nextInt(3)).map(_ => zipfWord(r)).mkString(" "))
  }

  /** Round `round`'s change set over ids `1..maxId`: `updates` distinct
    * existing ids get new text stamped `at`, and `inserts` new ids
    * follow `maxId`.
    */
  def changeSet(round: Int, maxId: Long, updates: Int, inserts: Int,
      at: Timestamp): (IndexedSeq[Gen.Doc], IndexedSeq[Gen.Doc]) = {
    val r = rng(1000L + round)
    val ids = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (ids.size < updates) ids += 1L + r.nextLong(maxId)
    val upd = ids.toIndexedSeq.map(id => doc(r, id, at))
    val ins = (1 to inserts).map(i => doc(r, maxId + i, at))
    (upd, ins)
  }

  /** A stream file: `n` inserted documents, the first carrying the
    * file's unique marker token.
    */
  def streamFile(round: Int, firstId: Long, n: Int, at: Timestamp): (String, IndexedSeq[Gen.Doc]) = {
    val r = rng(5000L + round)
    val marker = Gen.marker(seed, round)
    val docs = (0 until n).map(i => doc(r, firstId + i, at))
    (marker, docs.updated(0, docs(0).copy(body = s"$marker ${docs(0).body}")))
  }

  /** Curate input: `n` documents in the schema of the repository's
    * `documents.parquet` (doc_id, text, lang, source, n_chars), from a
    * small vocabulary per language so the dedup and language-ID stages
    * have signal. Duplicates have a fixed structure and seeded content:
    * in every block of ten documents, the ninth is an exact copy of the
    * block's first and the tenth a near copy (one word replaced) of its
    * second.
    */
  def curateDocs(n: Int): IndexedSeq[Gen.CurateDoc] = {
    val r = rng(7)
    val langs = Gen.CurateLangs
    val out = new scala.collection.mutable.ArrayBuffer[Gen.CurateDoc](n)
    val shared = Gen.CurateWords(0)
    (0 until n).foreach { i =>
      val block = i - i % 10
      val (lang, t) = i % 10 match {
        case 8 => (out(block).lang, out(block).text)
        case 9 =>
          val base = out(block + 1).text.split(' ')
          base(r.nextInt(base.length)) = shared(r.nextInt(shared.length))
          (out(block + 1).lang, base.mkString(" "))
        case _ =>
          val lang = r.nextInt(langs.length)
          val ws = Gen.CurateWords(lang)
          (langs(lang), (0 until 8 + r.nextInt(60)).map { _ =>
            if (r.nextInt(4) == 0) shared(r.nextInt(shared.length)) else ws(r.nextInt(ws.length))
          }.mkString(" "))
      }
      out += Gen.CurateDoc(i.toLong, t, lang, s"src${i % 20}", t.length.toLong)
    }
    out.toIndexedSeq
  }

  /** Curate's labelled vectors: `n` rows of `dim` floats around one of
    * ten seeded class centres, with their class as `label`.
    */
  def curateVectors(n: Int, dim: Int): IndexedSeq[(Long, Array[Float], Int)] = {
    val r = rng(8)
    val centres = Array.fill(10, dim)(r.nextDouble() * 2 - 1)
    (0 until n).map { i =>
      val label = r.nextInt(10)
      (i.toLong, Array.tabulate(dim)(j => (centres(label)(j) + (r.nextDouble() - 0.5) * 0.6).toFloat),
        label)
    }
  }
}

object Gen {
  val VocabSize = 5000

  final case class Doc(id: Long, body: String, category: String, price: Double,
      updatedAt: Timestamp)
  final case class CurateDoc(docId: Long, text: String, lang: String, source: String,
      nChars: Long)

  def marker(seed: Long, round: Int): String = f"mk${seed & 0xffffff}%x${round}z"

  val CurateLangs: Array[String] = Array("en", "es", "de", "fr", "zh")

  /** Per-language word pools for curate documents: a shared technical
    * pool plus a pool of words typical of each language, so language
    * ID has something to learn and quality scores vary.
    */
  val CurateWords: Array[Array[String]] = Array(
    "the a data spark table scan join merge sort hash key value row column query filter group order window stream batch vector part line customer big small fast slow agg".split(' '),
    "el la de que y los las una por con para datos tabla consulta rapido lento".split(' '),
    "der die das und mit von den ist nicht auf daten tabelle abfrage schnell".split(' '),
    "le la les et des une pour dans est pas donnees table requete rapide lent".split(' '),
    "de shi yi bu ren zai you zhe ge shang shuju biao chaxun kuai man".split(' ')
  )
}

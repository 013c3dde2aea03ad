package graftbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generator: every input a workload feeds to graft is a pure
  * function of the seed. Sizes and family counts are fixed; only content
  * varies with the seed, so runs on different seeds do the same amount of
  * work. Texts are ASCII, single-space separated, with no leading or
  * trailing space, so whitespace tokens never come out empty.
  */
object Gen {
  final case class Doc(id: Long, text: String, title: String = "")

  /** One generated input file: its name under the run's input directory
    * and its exact bytes (the digest check compares these). */
  final case class InputFile(name: String, bytes: Array[Byte])

  final case class SearchInputs(corpus: Array[Doc], queries: Array[String])
  final case class CurateInputs(corpus: Array[Doc], querySample: Array[Long])
  final case class IngestInputs(atRest: Array[Doc], batches: Array[Array[Doc]],
      takedowns: Array[Array[Long]])

  /** An independent copy of the quality gate's stopword list. */
  val Stopwords: Array[String] =
    Array("the", "a", "of", "to", "and", "in", "is", "on", "for", "with")

  // Sizes. The doc README explains why each workload is sized as it is.
  val SearchDocs = 100000
  val SearchQueries = 4096
  val CurateDocs = 6000
  val CurateQuerySample = 64
  val IngestAtRest = 3000
  val IngestCycles = 64
  val IngestBatch = 150
  val IngestTakedown = 75

  /** Word source: a seeded vocabulary plus the stopwords at ~20%. */
  private final class Words(r: SplittableRandom) {
    val vocab: Array[String] = {
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      while (seen.size < 6000) {
        val n = 4 + r.nextInt(6)
        seen += new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
      }
      seen.filterNot(Stopwords.contains).toArray
    }
    def content(): String = vocab(r.nextInt(vocab.length))
    def tokens(n: Int): Array[String] = Array.tabulate(n) { i =>
      val w = if (r.nextInt(5) == 0) Stopwords(r.nextInt(Stopwords.length)) else content()
      if (i % 12 == 11) w + "." else w
    }
    /** A near-duplicate: `m` distinct positions get fresh content words. */
    def mutate(base: Array[String], m: Int): Array[String] = {
      val out = base.clone()
      val picked = scala.collection.mutable.HashSet[Int]()
      while (picked.size < math.min(m, base.length)) picked += r.nextInt(base.length)
      picked.foreach(i => out(i) = content())
      out
    }
    def shortDoc(): Array[String] = tokens(8 + r.nextInt(5))
    def spamDoc(): Array[String] = Array.fill(30 + r.nextInt(11))(content() + "!!!")
  }

  private def shuffle[T](r: SplittableRandom, a: Array[T]): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  def search(seed: Long): SearchInputs = {
    val r = new SplittableRandom(seed * 31 + 1)
    val w = new Words(r)
    val ids = Array.tabulate(SearchDocs)(i => (i + 1).toLong)
    shuffle(r, ids)
    val corpus = Array.tabulate(SearchDocs) { i =>
      Doc(ids(i), w.tokens(16 + r.nextInt(17)).mkString(" "),
        Array.fill(2 + r.nextInt(3))(w.content()).mkString(" "))
    }
    val queries = Array.fill(SearchQueries)(w.tokens(3 + r.nextInt(5)).mkString(" "))
    SearchInputs(corpus.sortBy(_.id), queries)
  }

  /** Curation corpus: unique docs, low-quality docs (short, and
    * punctuation spam without stopwords), exact copies, small near-dup
    * families, chains whose neighbours are near-dups but whose ends are
    * not, and one large family. */
  def curate(seed: Long): CurateInputs = {
    val r = new SplittableRandom(seed * 31 + 2)
    val w = new Words(r)
    val n = CurateDocs
    def unique(): Array[String] = w.tokens(40 + r.nextInt(21))
    val texts = ArrayBuffer[Array[String]]()
    val queryTexts = Array.fill(CurateQuerySample)(unique())
    val good = ArrayBuffer[Array[String]]()
    for (_ <- 0 until n / 40) { // families of 2..5
      val base = unique()
      good += base
      for (_ <- 0 until 1 + r.nextInt(4)) good += w.mutate(base, 1 + r.nextInt(3))
    }
    for (_ <- 0 until n / 250) { // chains of 4..6, 4 substitutions per link
      var cur = unique()
      good += cur
      for (_ <- 0 until 3 + r.nextInt(3)) { cur = w.mutate(cur, 4); good += cur }
    }
    val large = unique()
    good += large
    for (_ <- 0 until n / 80) good += w.mutate(large, 1 + r.nextInt(3))
    val bad = Array.tabulate(n * 8 / 100)(i => if (i % 2 == 0) w.shortDoc() else w.spamDoc())
    val exact = Array.fill(n * 4 / 100)(good(r.nextInt(good.length)))
    texts ++= good ++= bad ++= exact
    while (texts.length + queryTexts.length < n) texts += unique()
    val all = (queryTexts ++ texts).map(_.mkString(" "))
    val ids = Array.tabulate(n)(i => (i + 1).toLong)
    shuffle(r, ids)
    val corpus = all.indices.map(i => Doc(ids(i), all(i))).toArray
    CurateInputs(corpus.sortBy(_.id), ids.take(CurateQuerySample).sorted)
  }

  /** Cluster-maintenance schedule: an at-rest corpus with near-dup
    * families and chains, then per cycle one ingest batch (fresh docs,
    * near-dups and chain links of present docs, exact copies) and one
    * takedown set (half uniform over present docs, half over docs that
    * seeded near-dups, so deletes split clusters). Ids are a random
    * permutation, so new docs can take over a cluster's canonical id. */
  def ingest(seed: Long): IngestInputs = {
    val r = new SplittableRandom(seed * 31 + 3)
    val w = new Words(r)
    val total = IngestAtRest + IngestCycles * IngestBatch
    val ids = Array.tabulate(total)(i => (i + 1).toLong)
    shuffle(r, ids)
    var next = 0
    def unique(): Array[String] = w.tokens(40 + r.nextInt(21))
    // present docs, with O(1) removal by swapping in the last one
    val present = ArrayBuffer[Long]()
    val slot = scala.collection.mutable.HashMap[Long, Int]()
    val toks = scala.collection.mutable.HashMap[Long, Array[String]]()
    val seeds = ArrayBuffer[Long]()
    def add(t: Array[String]): Doc = {
      val id = ids(next); next += 1
      slot(id) = present.length; present += id; toks(id) = t
      Doc(id, t.mkString(" "))
    }
    def remove(id: Long): Unit = {
      val i = slot.remove(id).get
      val last = present.remove(present.length - 1)
      if (i < present.length) { present(i) = last; slot(last) = i }
    }
    val atRest = ArrayBuffer[Doc]()
    while (atRest.length < IngestAtRest) {
      r.nextInt(10) match {
        case 0 | 1 => // family of 2..4
          val base = unique(); atRest += add(base)
          for (_ <- 0 until 1 + r.nextInt(3) if atRest.length < IngestAtRest)
            atRest += add(w.mutate(base, 1 + r.nextInt(3)))
        case 2 => // chain of 3
          var cur = unique(); atRest += add(cur)
          for (_ <- 0 until 2 if atRest.length < IngestAtRest) {
            cur = w.mutate(cur, 4); atRest += add(cur)
          }
        case _ => atRest += add(unique())
      }
    }
    val batches = new Array[Array[Doc]](IngestCycles)
    val takedowns = new Array[Array[Long]](IngestCycles)
    for (c <- 0 until IngestCycles) {
      val picks = Array.tabulate(IngestBatch) { i =>
        val k = i * 100 / IngestBatch
        if (k < 55) None
        else {
          val sid = present(r.nextInt(present.length))
          seeds += sid
          Some((k, toks(sid)))
        }
      }
      batches(c) = picks.map {
        case None => add(unique())
        case Some((k, t)) =>
          if (k < 80) add(w.mutate(t, 1 + r.nextInt(3)))
          else if (k < 92) add(w.mutate(t, 4))
          else add(t)
      }
      val del = scala.collection.mutable.LinkedHashSet[Long]()
      while (del.size < IngestTakedown) {
        val id =
          if (del.size % 2 == 0) present(r.nextInt(present.length))
          else seeds(r.nextInt(seeds.length))
        if (slot.contains(id)) del += id
      }
      del.foreach(remove)
      takedowns(c) = del.toArray
    }
    IngestInputs(atRest.toArray, batches, takedowns)
  }

  def jsonl(docs: Array[Doc], withTitle: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    docs.foreach { d =>
      val title = if (withTitle) s""","title":${Json.str(d.title)}""" else ""
      out.write(s"""{"doc_id":${d.id}$title,"text":${Json.str(d.text)}}\n""".getBytes(UTF_8))
    }
    out.toByteArray
  }

  def lines(xs: Iterable[String]): Array[Byte] =
    xs.map(_ + "\n").mkString.getBytes(UTF_8)

  /** Corpus files are written as this many shards, as a crawl or an
    * export lands: graft reads one split per shard. */
  val Shards = 8

  private def shards(dir: String, docs: Array[Doc], withTitle: Boolean): Seq[InputFile] =
    (0 until Shards).map { k =>
      InputFile(f"$dir/part-$k%05d.jsonl",
        jsonl(docs.slice(k * docs.length / Shards, (k + 1) * docs.length / Shards), withTitle))
    }

  /** The files a workload's inputs are written as: the corpus shards are
    * what graft reads; the rest record what the client sends. */
  def files(in: SearchInputs): Seq[InputFile] =
    shards("corpus", in.corpus, withTitle = true) :+ InputFile("queries.txt", lines(in.queries))

  def files(in: CurateInputs): Seq[InputFile] =
    shards("corpus", in.corpus, withTitle = false) :+
      InputFile("query_sample.txt", lines(in.querySample.map(_.toString)))

  def files(in: IngestInputs): Seq[InputFile] =
    shards("at_rest", in.atRest, withTitle = false) ++ Seq(
      InputFile("batches.jsonl", jsonl(in.batches.flatten, withTitle = false)),
      InputFile("takedowns.txt", lines(in.takedowns.map(_.mkString(" ")))))

  def sha256(files: Seq[InputFile]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    files.foreach { f => md.update(f.name.getBytes(UTF_8)); md.update(f.bytes) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

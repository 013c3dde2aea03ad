package graftbench

import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Dedup, SimilarityJoin, TextOps}
import graft.search.{Embedder, HashingEmbedder, VectorSearchClient}
import graft.sources.CorpusIO
import graft.streaming.CorpusIngest

import Main.{median, percentile}

/** Times the query embedding that `VectorSearchClient.search` does on the
  * client thread; index-build embedding on task threads is not counted. */
object EmbedClock {
  @volatile var client: Thread = _
  @volatile var ns = 0L
}

final case class TimedEmbedder(inner: Embedder) extends Embedder {
  override def dim: Int = inner.dim
  override def embedBatch(texts: Seq[String]): Seq[Array[Float]] =
    if (Thread.currentThread() ne EmbedClock.client) inner.embedBatch(texts)
    else {
      val t = System.nanoTime()
      try inner.embedBatch(texts) finally EmbedClock.ns += System.nanoTime() - t
    }
}

/** Shared plumbing: input generation with the byte-identity check, and
  * small helpers. */
abstract class BaseWorkload(val ctx: Ctx, val name: String) extends Workload {
  protected def spark: SparkSession = ctx.spark
  protected val Tau = 0.5
  protected val Dim = 128

  /** A window runs for its seconds and for at least this many operations,
    * so a slow host does not change what a window holds. */
  private val MinOps = 3
  protected def windowOpen(deadline: Long, ops: Int): Boolean =
    System.nanoTime() < deadline || ops < MinOps

  /** Writes the generated files, after checking that generating them a
    * second time from the same seed gives the same bytes. */
  protected def writeInputs(files: Seq[Gen.InputFile], again: => Seq[Gen.InputFile]): Unit = {
    val t = System.nanoTime()
    val digest = Gen.sha256(files)
    val digest2 = Gen.sha256(again)
    require(digest == digest2, s"$name: inputs differ between two generations from one seed")
    val dir = ctx.inputDir(name)
    Files.createDirectories(dir)
    files.foreach { f =>
      val path = dir.resolve(f.name)
      Files.createDirectories(path.getParent)
      Files.write(path, f.bytes)
    }
    ctx.out.line(ListMap("kind" -> "inputs", "workload" -> name, "seed" -> ctx.o.seed,
      "sha256" -> digest, "identical_on_regeneration" -> true,
      "bytes" -> files.map(_.bytes.length.toLong).sum, "gen_s" -> (System.nanoTime() - t) / 1e9))
  }

  protected def input(file: String): String = ctx.inputDir(name).resolve(file).toString

  protected def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  protected def mismatch(what: String, detail: String): Unit =
    ctx.out.line(ListMap("kind" -> "mismatch", "workload" -> name, "what" -> what,
      "detail" -> detail.take(300)))

  protected def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  protected def embedAll(texts: Array[String]): Array[Array[Float]] = {
    val e = HashingEmbedder(Dim)
    texts.grouped(4096).toArray.map(c => java.util.concurrent.CompletableFuture.supplyAsync(
      () => e.embedBatch(c.toSeq.map(VectorSearchClient.DocPrefix + _)).toArray))
      .flatMap(_.join())
  }

  override def warmup(): Unit = ()
  override def close(): Unit = ()
}

/** Interactive search: one client, closed loop, k = 10 over a cached
  * 100k-doc corpus and its 128-dim index. */
final class SearchWorkload(ctx: Ctx) extends BaseWorkload(ctx, "search_interactive") {
  private val K = 10
  private val in = Gen.search(ctx.o.seed)
  writeInputs(Gen.files(in), Gen.files(Gen.search(ctx.o.seed)))
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("title", StringType), StructField("text", StringType)))
  private var corpus: DataFrame = _
  private var client: VectorSearchClient = _
  private val readS = ArrayBuffer[Double]()
  private val indexBuildS = ArrayBuffer[Double]()
  private var next = 0
  private lazy val refVecs = embedAll(in.corpus.map(_.text))
  private lazy val refIds = in.corpus.map(_.id)
  private val queryEmbedder = HashingEmbedder(Dim)

  override def build(): Double = {
    if (client != null) { client.index.unpersist(); corpus.unpersist() }
    val t0 = System.nanoTime()
    corpus = CorpusIO.readJsonl(spark, input("corpus"), schema)
      .persist(StorageLevel.MEMORY_AND_DISK)
    corpus.count()
    val t1 = System.nanoTime()
    readS += (t1 - t0) / 1e9
    client = VectorSearchClient.fromCorpus(corpus, "text", "doc_id", TimedEmbedder(HashingEmbedder(Dim)))
    client.index.count()
    indexBuildS += (System.nanoTime() - t1) / 1e9
    (System.nanoTime() - t0) / 1e9
  }

  override def warmup(): Unit = (0 until 20).foreach(_ => query())

  private def query(): (String, Array[Row]) = {
    val q = in.queries(next % in.queries.length)
    next += 1
    q -> Trace.span("bench.query") {
      val df = Trace.span("search.search")(client.search(q, K))
      Trace.span("search.collect")(df.collect())
    }
  }

  private def check(q: String, rows: Array[Row]): Boolean = {
    val qv = queryEmbedder.embedOne(VectorSearchClient.QueryPrefix + q).map(_.toDouble)
    val want = Reference.topK(qv, refIds, refVecs, K)
    val ok = rows.length == want.length && rows.zip(want).zipWithIndex.forall {
      case ((r, (id, dist)), i) =>
        val doc = in.corpus((id - 1).toInt)
        r.getAs[Long]("rank") == i + 1 && r.getAs[Long]("doc_id") == id &&
          math.abs(r.getAs[Double]("score") - dist) <= 1e-9 &&
          r.getAs[String]("title") == doc.title && r.getAs[String]("text") == doc.text
    }
    if (!ok) mismatch("search", s"query '$q': got ${rows.map(r => r.getAs[Long]("doc_id")).mkString(",")} " +
      s"want ${want.map(_._1).mkString(",")}")
    ok
  }

  private var embedMs: Seq[Double] = Nil // per query of the last window

  override def window(seconds: Double): Window = {
    val lat = ArrayBuffer[Double]()
    val embed = ArrayBuffer[Double]()
    val results = ArrayBuffer[(String, Array[Row])]()
    var failed = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (windowOpen(deadline, lat.size)) {
      EmbedClock.ns = 0L
      val t0 = System.nanoTime()
      try results += query()
      catch { case e: Exception => failed += 1; mismatch("search", e.toString) }
      lat += ms(t0)
      embed += EmbedClock.ns / 1e6
    }
    failed += results.count { case (q, rows) => !check(q, rows) }
    embedMs = embed.toSeq
    val docsPerS = in.corpus.length.toDouble * lat.size / (lat.sum / 1e3)
    Window(lat.toSeq, docsPerS, lat.size, failed, Seq(
      Metric("search_p50_ms", median(lat.toSeq), "ms"),
      Metric("search_p90_ms", percentile(lat.toSeq, 90), "ms"),
      Metric("queries", lat.size, "count")))
  }

  override def layers(): Seq[Metric] = {
    val queries = Trace.spans.filter(_.name == "bench.query").toSeq
    val collects = Trace.spans.filter(_.name == "search.collect").toSeq
    val counters = queries.map(Trace.countersOf)
    val execMs = collects.map(s => s.ms - s.optPlanMs)
    Seq(
      Metric("search.embed_query_ms", median(embedMs), "ms"),
      Metric("search.plan_ms", median(queries.map(q =>
        Trace.subtree(q).map(s => s.analysisMs + s.optPlanMs).sum)), "ms"),
      Metric("search.exec_ms", median(execMs), "ms"),
      Metric("engine.jobs_per_query", mean(counters.map(_.jobs.toDouble)), "count"),
      Metric("engine.tasks_per_query", mean(counters.map(_.tasks.toDouble)), "count"),
      Metric("engine.driver_gap_ms_per_query", median(queries.map(Trace.driverGapMs)), "ms"),
      Metric("engine.task_busy_ms_per_query", median(counters.map(_.taskRunMs.toDouble)), "ms"),
      Metric("search.index_build_s", median(indexBuildS.toSeq), "s"),
      Metric("sources.read_s", median(readS.toSeq), "s"),
      Metric("functions.distance_evals_per_s",
        in.corpus.length.toDouble * execMs.size / (execMs.sum / 1e3), "1/s"))
  }

  override def close(): Unit = { client.index.unpersist(); corpus.unpersist() }
}

/** Batch curation: one input-to-result pipeline per pass. Each step's
  * output is pinned (an eager local checkpoint), so a step's engine work
  * runs inside its own span in traced and untraced runs alike. */
final class CurateWorkload(ctx: Ctx) extends BaseWorkload(ctx, "curate_batch") {
  private val Quality = 0.8
  private val NegFrom = 5
  private val NegTo = 10
  private val in = Gen.curate(ctx.o.seed)
  writeInputs(Gen.files(in), Gen.files(Gen.curate(ctx.o.seed)))
  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val hnSchema = StructType(Seq(StructField("qid", LongType), StructField("rank", LongType),
    StructField("doc_id", LongType), StructField("cos_dist", DoubleType), StructField("role", StringType)))
  private var pass = 0

  /** Expected survivors (id -> text) and hard-negative rows. */
  private lazy val (wantSurvivors, wantHn) = {
    val good = in.corpus.filter(d => Reference.qualityScore(d.text) >= Quality)
    val deduped = good.groupBy(_.text).values.map(_.minBy(_.id)).toSeq.sortBy(_.id)
    val labels = Reference.nearDupLabels(deduped.map(d => d.id -> d.text), Tau)
    val surv = deduped.filter(d => labels.get(d.id).forall(_ == d.id)).toArray
    val vecs = embedAll(surv.map(_.text))
    val ids = surv.map(_.id)
    val pos = ids.zipWithIndex.toMap
    val hn = in.querySample.filter(pos.contains).toSeq.flatMap { q =>
      val top = Reference.topK(vecs(pos(q)).map(_.toDouble), ids, vecs, NegTo, exclude = q)
      top.zipWithIndex.collect {
        case ((id, d), i) if i + 1 == 1 || i + 1 >= NegFrom =>
          (q, (i + 1).toLong, id, d, if (i == 0) "positive" else "hard_negative")
      }
    }
    ctx.out.line(ListMap("kind" -> "reference", "workload" -> name, "docs" -> in.corpus.length,
      "quality_kept" -> good.length, "exact_kept" -> deduped.length, "survivors" -> surv.length,
      "hard_negative_rows" -> hn.size))
    (surv.map(d => d.id -> d.text).toMap, hn)
  }

  override def build(): Double = ctx.restartSession()

  override def warmup(): Unit = (0 until 3).foreach(_ => check(runPass()))

  private def runPass(): String = {
    pass += 1
    val dir = ctx.outputDir(name).resolve(s"pass-$pass").toString
    Trace.span("bench.pass") {
      val raw = Trace.span("sources.read") {
        CorpusIO.readJsonl(spark, input("corpus"), schema).localCheckpoint()
      }
      val good = Trace.span("ops.quality") {
        raw.where(TextOps.qualityScore(col("text")) >= Quality).localCheckpoint()
      }
      val deduped = Trace.span("ops.exact_dedup") {
        Dedup.exact(good, Seq("text"), "doc_id").localCheckpoint()
      }
      val pairs = Trace.span("ops.jaccard_join") {
        Dedup.jaccardJoin(
          deduped.select(col("doc_id"), TextOps.wordNGrams(col("text"), 3).as("sh")),
          "doc_id", "sh", Tau).select("a", "b").localCheckpoint()
      }
      val labels = Trace.span("ops.components") {
        Dedup.components(pairs, "doc_id").localCheckpoint()
      }
      val survivors = Trace.span("ops.survivors") {
        deduped.join(labels, Seq("doc_id"), "left")
          .where(col("component").isNull || col("component") === col("doc_id"))
          .select("doc_id", "text").localCheckpoint()
      }
      val client = Trace.span("search.embed_corpus") {
        val c = VectorSearchClient.fromCorpus(survivors, "text", "doc_id", HashingEmbedder(Dim))
        c.index.count()
        c
      }
      val hn = Trace.span("ops.hard_negatives") {
        val queries = client.index.where(col("doc_id").isin(in.querySample.toSeq: _*))
          .select(col("doc_id").as("qid"), col("embedding").as("qvec"))
        SimilarityJoin.hardNegatives(client.index, "doc_id", "embedding", queries,
          "qid", "qvec", NegFrom, NegTo).localCheckpoint()
      }
      Trace.span("sources.write") {
        CorpusIO.writeJsonl(survivors, s"$dir/curated")
        CorpusIO.writeJsonl(hn, s"$dir/hard_negatives")
      }
      client.index.unpersist()
    }
    dir
  }

  /** Reads the pass's written outputs back and compares them with the
    * reference. */
  private def check(dir: String): Boolean = {
    val got = spark.read.schema(schema).json(s"$dir/curated").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val okSurv = got == wantSurvivors
    if (!okSurv) mismatch("survivors", s"got ${got.size} want ${wantSurvivors.size}; " +
      s"missing ${(wantSurvivors.keySet -- got.keySet).take(5)} extra ${(got.keySet -- wantSurvivors.keySet).take(5)}")
    val hn = spark.read.schema(hnSchema).json(s"$dir/hard_negatives").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))
      .sortBy(r => (r._1, r._2)).toSeq
    val okHn = hn.size == wantHn.size && hn.zip(wantHn).forall { case (g, w) =>
      g._1 == w._1 && g._2 == w._2 && g._3 == w._3 && math.abs(g._4 - w._4) <= 1e-9 && g._5 == w._5
    }
    if (!okHn) mismatch("hard_negatives", s"got ${hn.size} rows want ${wantHn.size}; " +
      s"first diff ${hn.zip(wantHn).find { case (g, w) => g._3 != w._3 }}")
    okSurv && okHn
  }

  override def window(seconds: Double): Window = {
    wantSurvivors // the reference is computed before the window, not inside it
    val lat = ArrayBuffer[Double]()
    val dirs = ArrayBuffer[String]()
    var failed = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    spark.catalog.clearCache()
    while (windowOpen(deadline, lat.size)) {
      val t0 = System.nanoTime()
      try dirs += runPass()
      catch { case e: Exception => failed += 1; mismatch("pass", e.toString) }
      lat += ms(t0)
      // what the operators leave cached is released between passes, as a
      // long-lived session running one batch after another does; the last
      // pass's is kept, so cache_mb reads what one pass holds
      if (windowOpen(deadline, lat.size)) spark.catalog.clearCache()
    }
    failed += dirs.count(d => !check(d))
    val p50 = median(lat.toSeq)
    Window(lat.toSeq, in.corpus.length / (p50 / 1e3), lat.size, failed, Seq(
      Metric("curate_docs_per_s", in.corpus.length / (p50 / 1e3), "docs/s"),
      Metric("passes", lat.size, "count")))
  }

  override def layers(): Seq[Metric] = {
    def named(n: String) = Trace.spans.filter(_.name == n).toSeq
    def rows(n: String) = named(n).map(_.outRows.toDouble).sum
    val stepSeconds = Main.curateSpans.map(s => Metric(s"${s}_s", median(named(s).map(_.ms / 1e3)), "s"))
    val perSpan = Main.curateSpans.flatMap { s =>
      val cs = named(s).map(Trace.countersOf)
      Seq(Metric(s"engine.$s.jobs", mean(cs.map(_.jobs.toDouble)), "count"),
        Metric(s"engine.$s.stages", mean(cs.map(_.stages.toDouble)), "count"),
        Metric(s"engine.$s.shuffle_write_mb", mean(cs.map(_.shuffleWriteBytes / 1048576.0)), "MB"),
        Metric(s"engine.$s.spill_mb", mean(cs.map(_.spillBytes / 1048576.0)), "MB"))
    }
    val hn = named("ops.hard_negatives")
    val survivorsPerPass = rows("ops.survivors") / math.max(hn.size, 1)
    val queries = in.querySample.count(wantSurvivors.contains)
    val joins = named("ops.jaccard_join")
    stepSeconds ++ perSpan ++ Seq(
      Metric("ops.quality_kept_ratio", rows("ops.quality") / math.max(rows("sources.read"), 1.0), "ratio"),
      Metric("ops.jaccard_pairs_per_candidate",
        joins.map(_.outRows.toDouble).sum / math.max(joins.map(_.joinRows.toDouble).sum, 1.0), "ratio"),
      Metric("functions.distance_evals_per_s",
        queries * (survivorsPerPass - 1) * hn.size / math.max(hn.map(_.ms / 1e3).sum, 1e-9), "1/s"))
  }
}

/** Streamed cluster maintenance: `CorpusIngest.clusterState` over an
  * at-rest corpus, then cycles of one `clusteredIngest` epoch and one
  * `clusterDeletes` takedown epoch on the same state, fed by MemoryStreams. */
final class IngestWorkload(ctx: Ctx) extends BaseWorkload(ctx, "ingest_maintain") {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  private val in = Gen.ingest(ctx.o.seed)
  writeInputs(Gen.files(in), Gen.files(Gen.ingest(ctx.o.seed)))
  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private var state: CorpusIngest.ClusterState = _
  private val stateBuildS = ArrayBuffer[Double]()
  private var cycle = 0
  private var ingestQ: org.apache.spark.sql.streaming.StreamingQuery = _
  private var deleteQ: org.apache.spark.sql.streaming.StreamingQuery = _
  private var ingestIn: MemoryStream[(Long, String)] = _
  private var deleteIn: MemoryStream[Long] = _
  private var labelRows = 0L

  private def shingled(df: DataFrame): DataFrame =
    df.select(col("doc_id"), TextOps.wordNGrams(col("text"), 3).as("sh"))

  override def build(): Double = {
    if (state != null) state.currentIngested.unpersist()
    val t0 = System.nanoTime()
    state = CorpusIngest.clusterState(
      shingled(CorpusIO.readJsonl(spark, input("at_rest"), schema)), "doc_id", "sh", Tau)
    val s = (System.nanoTime() - t0) / 1e9
    stateBuildS += s
    s
  }

  override def warmup(): Unit = {
    val sp = spark
    import sp.implicits._
    ingestIn = MemoryStream[(Long, String)](sp)
    deleteIn = MemoryStream[Long](sp)
    ingestQ = CorpusIngest.clusteredIngest(shingled(ingestIn.toDF().toDF("doc_id", "text")),
      state, "doc_id", "sh", Tau)((_, _) => ())
    deleteQ = CorpusIngest.clusterDeletes(deleteIn.toDF().toDF("doc_id"),
      state, "doc_id", "sh", Tau)((_, _) => ())
    runCycle()
  }

  /** One ingest epoch then one takedown epoch; returns their ms. Batch ids
    * of both queries count epochs from 0. */
  private def runCycle(): (Double, Double) = {
    val c = cycle
    cycle += 1
    Trace.span("bench.cycle") {
      val t0 = System.nanoTime()
      Trace.span("streaming.ingest_epoch") {
        ingestIn.addData(in.batches(c).map(d => d.id -> d.text).toSeq)
        ingestQ.processAllAvailable()
      }
      if (Trace.enabled) Trace.spans.last.stream = s"${ingestQ.id}:$c"
      val t1 = System.nanoTime()
      Trace.span("streaming.delete_epoch") {
        deleteIn.addData(in.takedowns(c).toSeq)
        deleteQ.processAllAvailable()
      }
      if (Trace.enabled) Trace.spans.last.stream = s"${deleteQ.id}:$c"
      ((t1 - t0) / 1e6, ms(t1))
    }
  }

  /** Final labels against a from-scratch union-find over the docs present
    * after `cycle` cycles. */
  private def check(): Boolean = {
    val got = state.currentLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    labelRows = got.size
    val deleted = in.takedowns.take(cycle).flatten.toSet
    val docs = (in.atRest ++ in.batches.take(cycle).flatten).filterNot(d => deleted(d.id))
    val want = Reference.nearDupLabels(docs.map(d => d.id -> d.text).toSeq, Tau)
    val ok = got == want
    if (!ok) mismatch("labels", s"after $cycle cycles: got ${got.size} labels want ${want.size}; " +
      s"differ on ${(got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k)).take(5)}")
    ok
  }

  private var lastCycles: Seq[Double] = Nil

  override def window(seconds: Double): Window = {
    val ing = ArrayBuffer[Double]()
    val del = ArrayBuffer[Double]()
    val done = ArrayBuffer[Int]()
    var failed = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val first = cycle
    while (windowOpen(deadline, cycle - first) && cycle < in.batches.length) {
      val c = cycle
      try { val (a, b) = runCycle(); ing += a; del += b; done += c }
      catch { case e: Exception => failed += 2; mismatch("cycle", e.toString) }
    }
    val epochs = 2L * ing.size + failed
    if (!check()) failed = epochs
    val cycles = ing.zip(del).map { case (a, b) => a + b }.toSeq
    lastCycles = cycles
    val ingested = done.map(in.batches(_).length).sum
    val deleted = done.map(in.takedowns(_).length).sum
    Window(cycles, (ingested + deleted) / (cycles.sum / 1e3), epochs, failed, Seq(
      Metric("ingest_docs_per_s", ingested / (ing.sum / 1e3), "docs/s"),
      Metric("ingest_epoch_p50_ms", median(ing.toSeq), "ms"),
      Metric("delete_epoch_p50_ms", median(del.toSeq), "ms"),
      Metric("cycles", ing.size, "count")))
  }

  override def layers(): Seq[Metric] = {
    def epochs(k: String) = Trace.spans.filter(_.name == s"streaming.${k}_epoch").toSeq
    val phases = for (k <- Seq("ingest", "delete");
        (p, key) <- Seq("add_batch" -> "addBatch", "query_planning" -> "queryPlanning",
          "wal_commit" -> "walCommit", "commit_offsets" -> "commitOffsets")) yield {
      val vs = epochs(k).flatMap(Trace.progressOf)
        .flatMap(pr => Option(pr.durationMs.get(key)).map(_.doubleValue()))
      Metric(s"streaming.$k.${p}_ms", if (vs.isEmpty) 0.0 else median(vs), "ms")
    }
    val all = epochs("ingest") ++ epochs("delete")
    val n = lastCycles.size
    val xMean = (n - 1) / 2.0
    val yMean = mean(lastCycles)
    val slope = if (n < 2) 0.0 else
      lastCycles.indices.map(i => (i - xMean) * (lastCycles(i) - yMean)).sum /
        lastCycles.indices.map(i => (i - xMean) * (i - xMean)).sum
    phases ++ Seq(
      Metric("engine.jobs_per_ingest_epoch", mean(epochs("ingest").map(Trace.countersOf(_).jobs.toDouble)), "count"),
      Metric("engine.jobs_per_delete_epoch", mean(epochs("delete").map(Trace.countersOf(_).jobs.toDouble)), "count"),
      Metric("engine.driver_gap_ms_per_epoch", mean(all.map(Trace.driverGapMs)), "ms"),
      Metric("engine.shuffle_write_mb_per_epoch",
        mean(all.map(Trace.countersOf(_).shuffleWriteBytes / 1048576.0)), "MB"),
      Metric("streaming.epoch_growth_ms", slope, "ms"),
      Metric("ops.state_label_rows", labelRows.toDouble, "count"),
      Metric("ops.cluster_state_build_s", median(stateBuildS.toSeq), "s"))
  }

  override def close(): Unit = {
    Seq(ingestQ, deleteQ).foreach(q => if (q != null) q.stop())
    if (state != null) state.currentIngested.unpersist()
  }
}

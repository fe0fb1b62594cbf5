package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.streaming.{DedupIngest, TextIngest, VectorIngest}

/** A serve request: BM25 queries (query id, term position, term) over
  * words seen so far, and probes that copy ingested documents (text and
  * embedding, with the source id) beside fresh ones. Probe ids lie past
  * 10^9, away from stored ids. */
final case class ServePlan(queries: Seq[(Int, Int, String)], copies: Seq[(Doc, Long)], fresh: Seq[Doc])

/** Writes beside reads on stores that grow with every batch. A write is
  * one arrival: a new file of documents with embeddings lands in the
  * input directory and the `TextIngest` (inverted index), `DedupIngest`
  * (Jaccard) and `VectorIngest` (SRP / IVF) stores each commit it. A
  * read is the serve round after each commit: BM25 from the inverted
  * index, a Jaccard probe and an embedding probe. Each round starts
  * from fresh stores holding one untimed bootstrap batch, then takes
  * `Arrivals` timed arrivals, so every round ends in the same state. */
final class CorpusStream(spark: SparkSession, seed: Long) extends Workload {
  val Arrivals = 2
  val roundSeconds = 20.0
  val BootDocs = 400
  val DocsPerArrival = 150
  val Threshold = 0.5
  val EmbThreshold = 0.95
  val K1 = 1.2
  val B = 0.75

  private val gen = new TextGen(seed)
  private var dir: Path = _
  private var batches: Vector[Vector[Doc]] = _
  private var files: Vector[Path] = _
  private var ingested = Vector.empty[Doc]
  private var roundDir: Path = _
  private var roundNo = 0
  private val queryIds = mutable.HashMap.empty[Long, Vector[String]]
  private val rng = new scala.util.Random(seed ^ 0x9e3779b9L)

  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("embedding", ArrayType(FloatType))))

  private lazy val boot = {
    val r = new scala.util.Random(seed + 101)
    val cs = Array.fill(8)(Array.fill(gen.Dim)(r.nextGaussian()))
    VectorIngest.IndexBootstrap(gen.Dim, cs.map(c => { val n = math.sqrt(c.map(x => x * x).sum); c.map(_ / n) }))
  }

  private def frame(ds: Seq[Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ds.map(d => Row(d.id, d.text, d.emb.toSeq)): _*), docSchema)

  private def input = roundDir.resolve("input")
  private def textStore = roundDir.resolve("text").toString
  private def jacStore = roundDir.resolve("jaccard").toString
  private def vecStore = roundDir.resolve("vectors").toString

  def setup(d: Path): Unit = {
    if (dir != null) deleteTree(dir)
    dir = d
    Files.createDirectories(dir)
    val r = new scala.util.Random(seed * 104729 + 7)
    var next = 0L
    batches = ((BootDocs +: Vector.fill(Arrivals)(DocsPerArrival))).map { n =>
      Vector.fill(n) { next += 1; Doc(next, gen.englishText(r, 30 + r.nextInt(50)), gen.embedding(r)) }
    }
    // one parquet file per batch, written once; arrivals copy them in
    files = batches.zipWithIndex.map { case (b, i) =>
      val out = dir.resolve(s"batch$i")
      frame(b).coalesce(1).write.parquet(out.toString)
      val s = Files.list(out)
      try s.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get() finally s.close()
    }
  }

  /** Fresh stores with the bootstrap batch (its commit runs the same
    * code as an arrival's), then one serve over them. */
  def warmUp(): Unit = {
    reset()
    serve(servePlan(new scala.util.Random(~seed)))()
  }

  /** Fresh stores unless they already hold only the bootstrap batch. */
  override def beforeRound(r: Int): Unit = if (ingested.size != batches(0).size) reset()

  private def reset(): Unit = {
    if (roundDir != null) deleteTree(roundDir)
    roundNo += 1
    roundDir = dir.resolve(s"round$roundNo")
    Files.createDirectories(input)
    ingested = Vector.empty
    land(0)
    commit()
  }

  /** Move batch `i` into the input directory (atomically, by rename). */
  private def land(i: Int): Unit = {
    val tmp = roundDir.resolve(s"landing-$i.parquet")
    Files.copy(files(i), tmp)
    Files.move(tmp, input.resolve(s"batch-$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
    ingested ++= batches(i)
  }

  private def runOnce(q: StreamingQuery): Unit = {
    queryIds(Trace.currentOp) = queryIds.getOrElse(Trace.currentOp, Vector.empty) :+ q.runId.toString
    q.awaitTermination()
  }

  /** One commit of everything that landed; the check reads each store
    * back and compares its ids with what was ingested. */
  private def commit(): Check = {
    def stream = spark.readStream.schema(docSchema).parquet(input.toString)
    Trace.span("stream.text_commit") {
      runOnce(TextIngest.maintainInvertedIndex(stream, "doc_id", "text", textStore))
    }
    Trace.span("stream.dedup_commit") {
      runOnce(DedupIngest.maintainJaccardStore(stream, "doc_id", "text", jacStore))
    }
    Trace.span("stream.vector_commit") {
      runOnce(VectorIngest.maintainIndex(stream.select("doc_id", "embedding"), "doc_id", "embedding",
        boot, vecStore))
    }
    val want = ingested.map(_.id)
    () => checkIds(Seq(
      "inverted index" -> ids(s"$textStore/docs", "doc_id"),
      "jaccard store" -> ids(s"$jacStore/docs", "doc_id"),
      "vector store" -> ids(vecStore, "cid")), want)
  }

  private def ids(path: String, c: String): Seq[Long] =
    spark.read.parquet(path).select(c).collect().map(_.getLong(0)).toSeq

  private[perfbench] def checkIds(stores: Seq[(String, Seq[Long])], want: Seq[Long]): Option[String] =
    stores.collectFirst {
      case (name, got) if got.size != want.size || got.toSet != want.toSet =>
        s"$name holds ${got.size} rows over ${got.toSet.size} ids; ${want.size} ingested"
    }

  private def servePlan(r: scala.util.Random): ServePlan = {
    val words = ingested(r.nextInt(ingested.size)).text.split(" ").distinct
    val queries = (1 to 4).flatMap { q =>
      val terms = (r.shuffle(words.toSeq).take(2) :+ gen.english(r.nextInt(gen.english.size))).distinct
      terms.zipWithIndex.map { case (t, i) => (q, i + 1, t) }
    }
    val base = 1000000000L + r.nextInt(1 << 20).toLong * 16
    val copies = (0 until 4).map { i =>
      val d = ingested(r.nextInt(ingested.size)); (Doc(base + i, d.text, d.emb), d.id)
    }
    val fresh = (4 until 6).map(i => Doc(base + i, gen.englishText(r, 40), gen.embedding(r)))
    ServePlan(queries, copies, fresh)
  }

  private def serve(p: ServePlan): Check = {
    import spark.implicits._
    val qdf = p.queries.toDF("query_id", "term_pos", "term")
    val probes = frame(p.copies.map(_._1) ++ p.fresh)
    val bm25 = Trace.span("serve.bm25")(TextIngest.bm25FromStore(spark, textStore, qdf).collect())
      .map(r => ((r.getAs[Int]("query_id"), r.getAs[Long]("doc_id")), r.getAs[Double]("bm25"))).toMap
    val jac = Trace.span("serve.jaccard") {
      DedupIngest.jaccardProbeFromStore(spark, jacStore, probes.select("doc_id", "text"), "doc_id", "text", Threshold)
        .collect()
    }.map(r => (r.getLong(0), r.getLong(1))).toSet
    val emb = Trace.span("serve.embedding") {
      VectorIngest.srpProbeFromStore(spark, vecStore, probes.select("doc_id", "embedding"), "doc_id", "embedding",
        boot, EmbThreshold).collect()
    }.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("dup_id"))).toSet
    val corpus = ingested
    () => checkServe(p, corpus, bm25, jac, emb)
  }

  /** BM25 over the ingested texts in plain Scala, with the store's
    * tokenization (trim, lower case, whitespace split) and its Lucene
    * parametrization, summed in term order. */
  private[perfbench] def bm25Ref(queries: Seq[(Int, Int, String)], corpus: Seq[Doc]): Map[(Int, Long), Double] = {
    val toks = corpus.map(d => d.id -> d.text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").toSeq)
    val n = toks.size.toDouble
    val sdl = toks.map(_._2.size.toLong).sum.toDouble
    val df = toks.flatMap(_._2.distinct).groupMapReduce(identity)(_ => 1)(_ + _)
    queries.groupBy(_._1).toSeq.flatMap { case (q, terms) =>
      toks.flatMap { case (id, ts) =>
        val tf = ts.groupMapReduce(identity)(_ => 1)(_ + _)
        val hits = terms.sortBy(_._2).filter(t => tf.contains(t._3))
        if (hits.isEmpty) None
        else Some((q, id) -> hits.foldLeft(0.0) { case (acc, (_, _, t)) =>
          val d = df(t).toDouble
          val f = tf(t).toDouble
          acc + StrictMath.log((n - d + 0.5) / (d + 0.5) + 1.0) * (f * (K1 + 1.0)) /
            (f + K1 * ((1.0 - B) + B * (ts.size * n) / sdl))
        })
      }
    }.toMap
  }

  private[perfbench] def checkServe(p: ServePlan, corpus: Seq[Doc], bm25: Map[(Int, Long), Double],
                                    jac: Set[(Long, Long)], emb: Set[(Long, Long)]): Option[String] = {
    val want = bm25Ref(p.queries, corpus).map { case (k, v) =>
      k -> BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val badScore = want.find { case (k, v) =>
      !bm25.get(k).exists(g => math.abs(g - v) <= 1e-9 * math.max(1.0, math.abs(v)))
    }
    val missJ = p.copies.map { case (d, src) => (d.id, src) }.filterNot(jac)
    val missE = p.copies.map { case (d, src) => (d.id, src) }.filterNot(emb)
    if (bm25.size != want.size) Some(s"BM25 scored ${bm25.size} (query, doc) pairs, expected ${want.size}")
    else if (badScore.isDefined) Some(s"BM25 score for ${badScore.get._1} is ${bm25.get(badScore.get._1)}, expected ${badScore.get._2}")
    else if (missJ.nonEmpty) Some(s"Jaccard probe missed copies $missJ")
    else if (missE.nonEmpty) Some(s"embedding probe missed copies $missE")
    else None
  }

  def round(r: Int): Seq[Op] =
    (1 to Arrivals).flatMap { i =>
      Seq(Op("write", "arrival", () => commit(), pre = () => land(i)),
        Op("read", "serve", () => serve(servePlan(rng))))
    }

  def storeBytes: Long = Seq(textStore, jacStore, vecStore).map(s => treeBytes(Path.of(s))).sum

  override def layerMetrics(ops: Seq[OpRec], probe: Probe): Map[String, Double] = {
    val writes = ops.filter(_.kind == "write")
      .map(o => probe.progressOf(queryIds.getOrElse(o.id, Vector.empty)))
    Map(
      "stream.add_batch_ms" -> Stats.median(writes.map(_.getOrElse("addBatch", 0L).toDouble)),
      "stream.wal_commit_ms" -> Stats.median(writes.map(_.getOrElse("walCommit", 0L).toDouble)),
      "stream.query_planning_ms" -> Stats.median(writes.map(_.getOrElse("queryPlanning", 0L).toDouble)),
      "store.files" -> Seq(textStore, jacStore, vecStore).map(s => dataFiles(Path.of(s))).sum.toDouble)
  }

  def plantedChecks(): Seq[(String, Boolean)] = {
    val r = new scala.util.Random(3)
    val p = servePlan(r)
    val good = bm25Ref(p.queries, ingested).map { case (k, v) =>
      k -> BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble }
    val hits = p.copies.map { case (d, src) => (d.id, src) }.toSet
    val ids = ingested.map(_.id)
    def ok(o: Option[String]) = o.isEmpty
    val (k0, v0) = good.head
    Seq(
      "store ids match the ingested ids (control)" -> ok(checkIds(Seq("s" -> ids), ids)),
      "store check rejects a lost document" -> !ok(checkIds(Seq("s" -> ids.tail), ids)),
      "store check rejects a duplicated document" -> !ok(checkIds(Seq("s" -> (ids :+ ids.head)), ids)),
      "serve answer matches the references (control)" -> ok(checkServe(p, ingested, good, hits, hits)),
      "serve rejects a BM25 score off by 1e-6" -> !ok(checkServe(p, ingested, good.updated(k0, v0 + 1e-6), hits, hits)),
      "serve rejects a missing BM25 match" -> !ok(checkServe(p, ingested, good - k0, hits, hits)),
      "serve rejects a missed Jaccard copy" -> !ok(checkServe(p, ingested, good, hits.tail, hits)),
      "serve rejects a missed embedding copy" -> !ok(checkServe(p, ingested, good, hits, hits.tail)))
  }
}

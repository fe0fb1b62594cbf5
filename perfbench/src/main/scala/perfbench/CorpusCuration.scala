package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Sources
import graft.ops.{Dedup, Text, Vectors}

/** The raw corpus with its planted truth: which documents the filters
  * drop, which are exact copies (after cleaning) of an earlier one,
  * which are edited copies (with their true shingle Jaccard), and
  * which carry a scaled copy of another's embedding. */
final case class RawCorpus(docs: Vector[Doc], filteredOut: Set[Long], exactCopies: Set[Long],
                           edited: Vector[(Long, Long, Double)], embCopies: Set[Long],
                           singletons: Vector[Doc])

object RawCorpus {
  val NFresh = 1500
  val NOther = 120
  val NShort = 80
  val NExact = 60
  val NEdited = 80
  val NEmb = 40
  val MinTokens = 30

  def generate(gen: TextGen, seed: Long): RawCorpus = {
    val r = new scala.util.Random(seed * 7919 + 13)
    var next = 0L
    def id(): Long = { next += 1; next }
    val fresh = Vector.fill(NFresh)(Doc(id(), gen.englishText(r, 40 + r.nextInt(40)), gen.embedding(r)))
    val other = Vector.fill(NOther)(Doc(id(), gen.otherText(r, 40 + r.nextInt(40)), gen.embedding(r)))
    val short = Vector.fill(NShort)(Doc(id(), gen.englishText(r, 8 + r.nextInt(15)), gen.embedding(r)))
    // sources of planted relations are disjoint, so each relation's
    // truth stays closed-form
    val pool = r.shuffle(fresh)
    val (exactSrc, rest1) = pool.splitAt(NExact)
    val (editSrc, rest2) = rest1.splitAt(NEdited)
    val (embSrc, singles) = rest2.splitAt(NEmb)
    val exact = exactSrc.zipWithIndex.map { case (d, i) =>
      val t = i % 3 match {
        case 0 => d.text.toUpperCase(java.util.Locale.ROOT).replace(" ", "  ") + " "
        case 1 => java.text.Normalizer.normalize(d.text, java.text.Normalizer.Form.NFD)
        case _ => d.text.patch(d.text.indexOf(' '), "\u0007", 0)
      }
      Doc(id(), t, gen.embedding(r))
    }
    val edited = editSrc.zipWithIndex.map { case (d, i) =>
      Doc(id(), gen.edit(r, d.text, 1 + i % 12), gen.embedding(r))
    }
    val emb = embSrc.map(d => Doc(id(), gen.englishText(r, 40 + r.nextInt(40)), d.emb.map(_ * 0.5f)))
    val truth = editSrc.zip(edited).map { case (a, b) =>
      (a.id, b.id, TextRef.jaccard(TextRef.shingles(TextRef.clean(a.text)), TextRef.shingles(TextRef.clean(b.text))))
    }
    val all = r.shuffle(fresh ++ other ++ short ++ exact ++ edited ++ emb)
    RawCorpus(all, (other ++ short).map(_.id).toSet, exact.map(_.id).toSet, truth,
      emb.map(_.id).toSet, singles)
  }
}

/** Few, large jobs. A write is one curation pass over the raw corpus:
  * NFC clean, quality and language filter, exact dedup, MinHash and
  * exact-Jaccard near-dup with cluster removals, embedding near-dup,
  * and an overwrite of the curated output. A read is one probe
  * request: verbatim copies, edited copies and fresh texts probed
  * against the curated corpus by exact Jaccard, MinHash and
  * embedding SRP. */
final class CorpusCuration(spark: SparkSession, seed: Long) extends Workload {
  val Threshold = 0.5
  val EmbThreshold = 0.95
  val ReadsPerRound = 2
  val roundSeconds = 30.0
  val ProbesPerKind = 6

  private val gen = new TextGen(seed)
  private var dir: Path = _
  private var raw: RawCorpus = _
  private lazy val byId: Map[Long, Doc] = raw.docs.map(d => d.id -> d).toMap
  private val rng = new scala.util.Random(seed ^ 0x2545f491L)
  private var lastPairs = Seq.empty[(Long, Long)]
  private var lastCandidates = 0L

  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("embedding", ArrayType(FloatType))))

  private def frame(ds: Seq[Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ds.map(d => Row(d.id, d.text, d.emb.toSeq)): _*), docSchema)

  private def rawPath = dir.resolve("raw.parquet").toString
  private def curatedPath = dir.resolve("curated.parquet").toString

  def setup(d: Path): Unit = {
    if (dir != null) deleteTree(dir)
    dir = d
    Files.createDirectories(dir)
    raw = RawCorpus.generate(gen, seed)
    frame(raw.docs).repartition(4).write.parquet(rawPath)
  }

  /** The first curation pass builds the curated output; the probes
    * after it are drawn from their own generator. */
  def warmUp(): Unit = {
    curate()
    val warm = new scala.util.Random(~seed)
    probe(request(warm))()
  }

  private def ids(df: DataFrame, c: String): Set[Long] = df.select(c).collect().map(_.getLong(0)).toSet

  /** One curation pass; the check compares every stage with the
    * planted truth and with independent recomputation. */
  private def curate(): Check = {
    val corpus = spark.read.parquet(rawPath)
    val cleaned = Trace.span("text.clean") {
      corpus.select(col("doc_id"), Text.nfcClean(col("text")).as("text"), col("embedding"))
        .localCheckpoint(true)
    }
    val filtered = Trace.span("text.filter") {
      Text.qualityScore(Text.languageId(cleaned, col("text"), "lang"), col("text"))
        .filter(col("lang") === "en" && col("n_tok") >= RawCorpus.MinTokens)
        .select("doc_id", "text", "embedding")
        .localCheckpoint(true)
    }
    val (kept, exactRemoved) = Trace.span("dedup.exact") {
      val removed = Dedup.removedByKey(Text.fingerprint(filtered, col("text"), "fp"),
        Seq(col("fp")), "doc_id", Seq(col("doc_id").asc)).select("doc_id").localCheckpoint(true)
      (filtered.join(broadcast(removed), Seq("doc_id"), "leftanti").localCheckpoint(true), ids(removed, "doc_id"))
    }
    val (sh, mhPairs) = Trace.span("dedup.minhash") {
      val sh = kept.select(col("doc_id"), Dedup.shingles(col("text")).as("__sh"))
        .filter(size(col("__sh")) > 0).localCheckpoint(true)
      (sh, Dedup.minhashLshPortableOnShingles(sh, "doc_id", "__sh", 12, 4, Threshold))
    }
    val jPairs = Trace.span("dedup.jaccard")(Dedup.jaccardPairsExactOnShingles(sh, "doc_id", "__sh", Threshold))
    val nearRemoved = Trace.span("dedup.cluster") {
      Dedup.clusterRemovals(mhPairs.select("id_a", "id_b").union(jPairs.select("id_a", "id_b")))
        .select(col("id").as("doc_id")).localCheckpoint(true)
    }
    val textKept = kept.join(broadcast(nearRemoved), Seq("doc_id"), "leftanti")
    val embPairs = Trace.span("vectors.srp") {
      Vectors.srpNearDups(textKept.select("doc_id", "embedding"), "doc_id", "embedding", EmbThreshold)
    }
    val embRemoved = Trace.span("dedup.cluster") {
      Dedup.clusterRemovals(embPairs).select(col("id").as("doc_id")).localCheckpoint(true)
    }
    Trace.span("io.curated_write") {
      Sources.overwriteParquet(textKept.join(broadcast(embRemoved), Seq("doc_id"), "leftanti"), curatedPath)
    }
    val candidates = graft.Metrics.snapshot.toMap.getOrElse("jaccard_prefix_candidates", 0L)
    () => {
      val jp = jPairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
      val mp = mhPairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
      lastPairs = jp.map(p => (p._1, p._2)).toSeq
      lastCandidates = candidates
      checkCuration(exactRemoved, jp, mp, ids(nearRemoved, "doc_id"), ids(embRemoved, "doc_id"),
        spark.read.parquet(curatedPath).count())
    }
  }

  private def cleanShingles(id: Long) = TextRef.shingles(TextRef.clean(byId(id).text))

  private[perfbench] def checkCuration(exactRemoved: Set[Long], jPairs: Seq[(Long, Long, Double)],
                                       mhPairs: Seq[(Long, Long, Double)], nearRemoved: Set[Long],
                                       embRemoved: Set[Long], curatedRows: Long): Option[String] = {
    val found = jPairs.map(p => (p._1, p._2)).toSet
    val wantedPairs = raw.edited.filter(_._3 >= Threshold).map(p => (p._1 min p._2, p._1 max p._2))
    val badScore = (jPairs ++ mhPairs).find { case (a, b, j) =>
      val t = TextRef.jaccard(cleanShingles(a), cleanShingles(b))
      t < Threshold || math.abs(j - t) > 1e-6
    }
    val expectedNear = TextRef.clusterRemovals((jPairs ++ mhPairs).map(p => (p._1, p._2)))
    val kept = raw.docs.size - raw.filteredOut.size - raw.exactCopies.size - expectedNear.size - raw.embCopies.size
    if (exactRemoved != raw.exactCopies)
      Some(s"exact dedup removed ${exactRemoved.size} documents, ${raw.exactCopies.size} planted")
    else if (!wantedPairs.forall(found))
      Some(s"exact Jaccard missed planted pairs ${wantedPairs.filterNot(found).take(3)}")
    else if (badScore.isDefined)
      Some(s"reported pair ${badScore.get} does not clear the threshold on recomputation")
    else if (nearRemoved != expectedNear)
      Some(s"near-dup clustering removed ${nearRemoved.size} documents, expected ${expectedNear.size}")
    else if (embRemoved != raw.embCopies)
      Some(s"embedding near-dup removed ${embRemoved.size} documents, ${raw.embCopies.size} planted")
    else if (curatedRows != kept)
      Some(s"curated output holds $curatedRows rows, expected $kept")
    else None
  }

  /** One probe request drawn from `r`: verbatim copies and edited
    * copies of curated documents, and fresh texts; ids past 10^9 so
    * they never meet corpus ids. */
  private def request(r: scala.util.Random): Seq[(Doc, Option[Long], Double)] = {
    val base = 1000000000L + r.nextInt(1 << 20).toLong * 64
    val verbatim = Vector.fill(ProbesPerKind)(raw.singletons(r.nextInt(raw.singletons.size)))
      .zipWithIndex.map { case (d, i) => (Doc(base + i, d.text, d.emb), Some(d.id), 1.0) }
    val edited = Vector.fill(ProbesPerKind)(raw.singletons(r.nextInt(raw.singletons.size)))
      .zipWithIndex.map { case (d, i) =>
        val t = gen.edit(r, d.text, 1 + r.nextInt(8))
        (Doc(base + 20 + i, t, gen.embedding(r)), Some(d.id),
          TextRef.jaccard(TextRef.shingles(t), TextRef.shingles(TextRef.clean(d.text))))
      }
    val fresh = Vector.tabulate(ProbesPerKind) { i =>
      (Doc(base + 40 + i, gen.englishText(r, 40 + r.nextInt(40)), gen.embedding(r)), None, 0.0)
    }
    verbatim ++ edited ++ fresh
  }

  private def probe(req: Seq[(Doc, Option[Long], Double)]): Check = {
    val probes = frame(req.map(_._1))
    val corpus = spark.read.parquet(curatedPath)
    val corpusSh = corpus.select(col("doc_id"), Dedup.shingles(col("text")).as("__sh"))
      .filter(size(col("__sh")) > 0)
    val probeSh = probes.select(col("doc_id"), Dedup.shingles(col("text")).as("__sh"))
      .filter(size(col("__sh")) > 0)
    val jac = Trace.span("probe.jaccard") {
      Dedup.jaccardProbeOnShingles(corpusSh, probeSh, "doc_id", "__sh", Threshold).collect()
    }.map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
    val mh = Trace.span("probe.minhash") {
      Dedup.minhashProbeOnShingles(corpusSh, probeSh, "doc_id", "__sh", 12, 4, Threshold).collect()
    }.map(r => (r.getLong(0), r.getLong(1)))
    val emb = Trace.span("probe.embedding") {
      Vectors.srpProbe(corpus.select("doc_id", "embedding"), probes.select("doc_id", "embedding"),
        "doc_id", "embedding", EmbThreshold).collect()
    }.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("dup_id")))
    () => checkProbe(req, jac.toSeq, mh.toSeq, emb.toSeq)
  }

  private[perfbench] def checkProbe(req: Seq[(Doc, Option[Long], Double)], jac: Seq[(Long, Long, Double)],
                                    mh: Seq[(Long, Long)], emb: Seq[(Long, Long)]): Option[String] = {
    val j = jac.map(p => (p._1, p._2)).toSet
    val text = req.map(x => x._1.id -> x._1.text).toMap
    val mustFind = req.collect { case (d, Some(src), t) if t >= Threshold => (d.id, src) }
    val verbatim = req.collect { case (d, Some(src), 1.0) => (d.id, src) }
    val badScore = jac.find { case (p, c, s) =>
      val t = TextRef.jaccard(TextRef.shingles(text(p)), cleanShingles(c))
      t < Threshold || math.abs(s - t) > 1e-6
    }
    if (!mustFind.forall(j)) Some(s"Jaccard probe missed ${mustFind.filterNot(j).take(3)}")
    else if (badScore.isDefined) Some(s"probe pair ${badScore.get} does not clear the threshold")
    else if (!verbatim.forall(mh.toSet)) Some(s"MinHash probe missed verbatim copies ${verbatim.filterNot(mh.toSet)}")
    else if (!verbatim.forall(emb.toSet)) Some(s"embedding probe missed verbatim copies ${verbatim.filterNot(emb.toSet)}")
    else None
  }

  def round(r: Int): Seq[Op] =
    Op("write", "curation_pass", () => curate()) +:
      (1 to ReadsPerRound).map { _ =>
        val req = request(rng)
        Op("read", "probe_request", () => probe(req))
      }

  def storeBytes: Long = treeBytes(dir.resolve("curated.parquet"))

  override def layerMetrics(ops: Seq[OpRec], probe: Probe): Map[String, Double] =
    Map("dedup.candidates_per_dup" -> lastCandidates.toDouble / math.max(1, lastPairs.size))

  def plantedChecks(): Seq[(String, Boolean)] = {
    val jp = raw.edited.filter(_._3 >= Threshold).map { case (a, b, t) => (a min b, a max b, BigDecimal(t).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    val near = TextRef.clusterRemovals(jp.map(p => (p._1, p._2)))
    val kept = raw.docs.size - raw.filteredOut.size - raw.exactCopies.size - near.size - raw.embCopies.size
    def ok(o: Option[String]) = o.isEmpty
    val low = raw.edited.minBy(_._3)
    val req = request(new scala.util.Random(1))
    val goodJ = req.collect { case (d, Some(src), t) if t >= Threshold =>
      (d.id, src, BigDecimal(t).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    val verb = req.collect { case (d, Some(src), 1.0) => (d.id, src) }
    Seq(
      "curation answer matches the planted truth (control)" ->
        ok(checkCuration(raw.exactCopies, jp, Nil, near, raw.embCopies, kept)),
      "curation rejects a missed exact copy" ->
        !ok(checkCuration(raw.exactCopies.tail, jp, Nil, near, raw.embCopies, kept)),
      "curation rejects a missed planted pair" ->
        !ok(checkCuration(raw.exactCopies, jp.tail, Nil, near, raw.embCopies, kept)),
      "curation rejects a pair below the threshold" ->
        !ok(checkCuration(raw.exactCopies, jp :+ ((low._1, low._2, 0.9)), Nil, near, raw.embCopies, kept)),
      "curation rejects a wrong cluster removal" ->
        !ok(checkCuration(raw.exactCopies, jp, Nil, near + raw.singletons.head.id, raw.embCopies, kept)),
      "curation rejects a missed embedding copy" ->
        !ok(checkCuration(raw.exactCopies, jp, Nil, near, raw.embCopies.tail, kept)),
      "curation rejects a wrong output size" ->
        !ok(checkCuration(raw.exactCopies, jp, Nil, near, raw.embCopies, kept + 1)),
      "probe answer matches the planted truth (control)" -> ok(checkProbe(req, goodJ, verb, verb)),
      "probe rejects a missed verbatim copy" -> !ok(checkProbe(req, goodJ.tail, verb, verb)),
      "probe rejects a missed MinHash copy" -> !ok(checkProbe(req, goodJ, verb.tail, verb)),
      "probe rejects a missed embedding copy" -> !ok(checkProbe(req, goodJ, verb, verb.tail)))
  }
}

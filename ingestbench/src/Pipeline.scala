package ingestbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.operators.Curation
import graft.streaming.{EmbIndexIngest, PipelineIngest, ProductStore}

/** Seeded document + embedding generator for `pipeline_ingest`.
  *
  * Documents are word sequences over a synthetic vocabulary. About 70% are
  * English (the English marker words mixed in), the rest Spanish, German or
  * French by their own markers, so language id sends them away; about 12%
  * are degenerate repetitions that fail the quality score. On top of that,
  * some documents are planted as exact copies (byte-identical text) or near
  * copies (a few words replaced) of an earlier document. Vectors are
  * Gaussian in `Dim` dimensions, where two independent vectors have cosine
  * ≥ 0.25 with probability ~1e-6; planted near-duplicate vectors are an
  * earlier vector plus noise (cosine ~0.9).
  */
final class DocGen(seed: Long) {
  import DocGen._
  private val rng = new scala.util.Random(seed * 7919L + 17L)
  private val vocab: IndexedSeq[String] = {
    val syl = IndexedSeq("ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe",
      "sa", "do", "fu", "gi", "ho", "ju", "be", "cy", "wa", "xe", "qo")
    val r = new scala.util.Random(seed)
    (0 until VocabSize).map(_ => Seq.fill(2 + r.nextInt(3))(syl(r.nextInt(syl.size))).mkString)
      .distinct.filterNot(w => allMarkers(w))
  }
  private val texts = scala.collection.mutable.ArrayBuffer[String]()
  private val vecs = scala.collection.mutable.ArrayBuffer[Array[Float]]()
  val exactCopies = scala.collection.mutable.Set[Long]()
  private var nextId = 1L

  private def words(n: Int): Seq[String] = Seq.fill(n)(vocab(rng.nextInt(vocab.size)))

  private def freshText(): (String, String) = {
    val lang = rng.nextInt(10) match {
      case k if k < 7 => "en"
      case 7 => "es"
      case 8 => "de"
      case _ => "fr"
    }
    if (rng.nextInt(100) < 12) // degenerate: fails the quality score
      return (Seq.fill(30 + rng.nextInt(20))(markers(lang).head).mkString(" "), lang)
    val body = words(60 + rng.nextInt(40)).toBuffer
    val m = markers(lang)
    (0 until body.size / 6).foreach(_ => body.insert(rng.nextInt(body.size), m(rng.nextInt(m.size))))
    (body.mkString(" "), lang)
  }

  private def gaussian(): Array[Float] = {
    val v = Array.fill(Dim)(rng.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  /** The next `n` documents, ids continuing from the previous call. */
  def next(n: Int): Seq[Doc] = (0 until n).map { _ =>
    val id = nextId; nextId += 1
    val pick = rng.nextInt(100)
    val (text, lang) =
      if (texts.nonEmpty && pick < 5) { // exact copy of an earlier document
        exactCopies += id
        val j = rng.nextInt(texts.size)
        (texts(j), langOf(texts(j)))
      } else if (texts.nonEmpty && pick < 10) { // near copy: a few words replaced
        val j = rng.nextInt(texts.size)
        val w = texts(j).split(" ")
        (0 until math.max(1, w.length / 40)).foreach(_ => w(rng.nextInt(w.length)) = vocab(rng.nextInt(vocab.size)))
        (w.mkString(" "), langOf(texts(j)))
      } else freshText()
    val vec =
      if (vecs.nonEmpty && rng.nextInt(100) < 8) { // planted near-duplicate vector
        val base = vecs(rng.nextInt(vecs.size))
        val noisy = base.map(x => x + (rng.nextGaussian() * 0.45 / math.sqrt(Dim)).toFloat)
        val nn = math.sqrt(noisy.map(x => x.toDouble * x).sum).toFloat
        noisy.map(_ / nn)
      } else gaussian()
    texts += text; vecs += vec
    Doc(id, text, lang, s"src${(id % 3) + 1}", vec)
  }

  private def langOf(text: String): String = {
    val toks = text.split(" ").toSet
    markers.maxBy { case (_, m) => m.count(toks) }._1
  }
}

object DocGen {
  val Dim = 384
  val VocabSize = 6000
  val markers: Map[String, IndexedSeq[String]] = Map(
    "en" -> IndexedSeq("the", "a", "of", "and", "to", "is", "in"),
    "es" -> IndexedSeq("el", "la", "los", "de", "y", "que", "es"),
    "de" -> IndexedSeq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> IndexedSeq("le", "les", "et", "est", "que", "une"))
  val allMarkers: Set[String] = markers.values.flatten.toSet

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
}

final case class Doc(id: Long, text: String, lang: String, source: String, vec: Array[Float]) {
  def row: Row = Row(id, text, lang, source, text.length.toLong, vec.toSeq)
}

/** `pipeline_ingest`: `PipelineIngest.rebuild` builds the base corpus in
  * set-up and one warm-up trigger (epoch 0) follows; the timed phase
  * drains rounds of document+embedding batches through
  * `PipelineIngest.run`, one batch file per trigger, with a product
  * `outDir` and a `compactEvery` equal to the round length, so the second
  * trigger of every round first folds the round's two live epochs.
  */
final class PipelineWorkload(ctx: Ctx) extends Workload {
  import PipelineWorkload._
  private val spark = ctx.spark
  private val root = s"${ctx.root}/pipeline"
  private val outDir = s"${ctx.root}/product"
  private val inbox = s"${ctx.root}/pipeline_inbox"
  private val checkpoint = s"${ctx.root}/pipeline_checkpoint"
  private val gen = new DocGen(ctx.args.seed)
  private val cfg = PipelineIngest.Config(dedupMinCosine = Some(MinCosine),
    compactEvery = Some(BatchesPerRound), partitionMod = PartitionMod,
    emb = EmbIndexIngest.Config(nlist = Cells))
  private val docs = scala.collection.mutable.ArrayBuffer[Doc]()
  private var landed = 0

  private def df(ds: Seq[Doc]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(ds.map(_.row).asJava, DocGen.schema)
  }

  /** Land `n` batch files in the inbox, oldest first by mtime. */
  private def land(n: Int): Unit = {
    val t0 = System.currentTimeMillis()
    (0 until n).foreach { k =>
      val batch = gen.next(BatchDocs)
      docs ++= batch
      val stage = s"${ctx.root}/stage/b$landed"
      df(batch).coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(inbox, f"b$landed%05d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + k * 1000L)
      landed += 1
    }
  }

  /** Drain everything landed: one `PipelineIngest.run` until AvailableNow ends. */
  private def drain(timed: Boolean): Unit = {
    val q = ctx.call("PipelineIngest.run") {
      val q = PipelineIngest.run(spark, inbox, root, DocGen.schema, "text", "doc_id",
        Some("embedding"), col("lang") === "en", "lang", checkpoint, cfg,
        outDir = Some(outDir), maxFilesPerTrigger = 1)
      q.awaitTermination()
      q
    }
    if (timed) ctx.recordTriggers(q)
  }

  def setup(): Unit = {
    new java.io.File(inbox).mkdirs()
    val base = gen.next(BaseDocs)
    docs ++= base
    ctx.call("PipelineIngest.rebuild") {
      PipelineIngest.rebuild(spark, df(base), root, "text", "doc_id", Some("embedding"),
        col("lang") === "en", "lang", cfg, outDir = Some(outDir))
    }
    land(1) // the warm-up trigger: epoch 0, which no fold precedes
    drain(timed = false)
  }

  def timed(): Unit =
    while (ctx.timeLeft) {
      land(BatchesPerRound)
      drain(timed = true)
      ctx.fullGc()
    }

  // -- checks ---------------------------------------------------------

  private lazy val survivors: Seq[(Long, String)] =
    ProductStore.readProduct(spark, outDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq

  private lazy val batchCurated: Set[Long] =
    Curation.curate(df(docs.toSeq), "text", "doc_id", cfg.curation)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  private lazy val storedVectorIds: Seq[Long] =
    EmbIndexIngest.readVectors(spark, PipelineIngest.embRoot(root))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq

  def check(): Seq[String] =
    checkSurvivors(survivors, batchCurated) ++ checkVectors(storedVectorIds)

  def checkSurvivors(surv: Seq[(Long, String)], expected: Set[Long]): Seq[String] = {
    val ids = surv.map(_._1)
    val errs = scala.collection.mutable.ArrayBuffer[String]()
    if (expected.isEmpty) errs += "Curation.curate kept no document: the check would be vacuous"
    if (ids.distinct.size != ids.size)
      errs += s"${ids.size - ids.distinct.size} survivor ids appear more than once"
    val got = ids.toSet
    if (got != expected)
      errs += s"streamed survivors differ from Curation.curate: ${(got -- expected).size} extra " +
        s"(e.g. ${(got -- expected).take(3)}), ${(expected -- got).size} missing (e.g. ${(expected -- got).take(3)})"
    val byText = surv.groupBy(_._2).filter(_._2.map(_._1).distinct.size > 1)
    if (byText.nonEmpty) errs += s"${byText.size} texts survive under more than one id"
    val copies = got.intersect(gen.exactCopies)
    if (gen.exactCopies.isEmpty) errs += "no exact copy was planted: the check would be vacuous"
    if (copies.nonEmpty) errs += s"planted exact copies survived: ${copies.take(5)}"
    errs.toSeq
  }

  def checkVectors(stored: Seq[Long]): Seq[String] = {
    val byId = docs.map(d => d.id -> d.vec).toMap
    val errs = scala.collection.mutable.ArrayBuffer[String]()
    val unknown = stored.filterNot(byId.contains)
    if (unknown.nonEmpty) errs += s"stored vector ids that were never ingested: ${unknown.take(5)}"
    // an id may sit in several IVF cells (the store's soft assignment), so
    // the kept set is the distinct stored ids
    val kept = stored.distinct.flatMap(byId.get).toArray
    val dropped = docs.map(_.id).filterNot(stored.toSet)
    if (dropped.isEmpty) errs += "the dedup dropped no vector: the check would be vacuous"
    val orphans = dropped.filterNot { id =>
      val v = byId(id)
      kept.exists(k => cosine(v, k) >= MinCosine)
    }
    if (orphans.nonEmpty)
      errs += s"${orphans.size} dropped vectors have no kept near-duplicate at cosine >= $MinCosine (e.g. ${orphans.take(5)})"
    errs.toSeq
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { d += a(i).toDouble * b(i); i += 1 }
    d // both unit vectors
  }

  def selfTest(): Seq[String] = {
    val surv = survivors
    val exp = batchCurated
    val stored = storedVectorIds
    val copy = gen.exactCopies.head
    val corruptions: Seq[(String, Seq[String])] = Seq(
      "a survivor dropped" -> checkSurvivors(surv.tail, exp),
      "a duplicate survivor" -> checkSurvivors(surv :+ surv.head, exp),
      "an extra survivor" -> checkSurvivors(surv :+ (copy -> docs.find(_.id == copy).get.text), exp),
      "a byte-identical survivor pair" -> checkSurvivors(
        surv :+ (docs.map(_.id).max + 1 -> surv.head._2), exp + (docs.map(_.id).max + 1)),
      "a vector wrongly dropped" -> checkVectors(stored.filterNot(_ == lonelyKept(stored))),
      "a vector stored that was never ingested" -> checkVectors(stored :+ (docs.map(_.id).max + 1)))
    corruptions.collect { case (what, errs) if errs.isEmpty => s"check passed on corrupted output: $what" }
  }

  /** A kept vector with no near-duplicate at all: dropping it must fail the check. */
  private def lonelyKept(stored: Seq[Long]): Long = {
    val byId = docs.map(d => d.id -> d.vec).toMap
    stored.find(id => !docs.exists(d => d.id != id && cosine(byId(id), d.vec) >= MinCosine)).get
  }

  def endToEnd(): Seq[(String, Metric)] =
    ctx.endToEnd(ctx.bytesUnder(Seq(root, outDir)), docs.size.toLong)

  override def livePartitions: Long = PipelineIngest.storeStats(spark, root).map(_.liveBatches).sum
}

object PipelineWorkload {
  val BaseDocs = 600
  val BatchDocs = 100
  val BatchesPerRound = 2
  val PartitionMod = 8
  val Cells = 4
  val MinCosine = 0.25
}

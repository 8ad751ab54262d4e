package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The concurrent-stage plumbing's own contracts — each pinned here
  * because its failure mode is silent cross-query interference, not a
  * wrong result: (1) pooled stage threads must carry the CALLER's job
  * group and streaming batch/query ids (InheritableThreadLocal snapshots
  * at thread creation would leak query A's group onto query B's writes,
  * so A.stop() cancels B, and leave stage jobs with no or a stale batch
  * id); (2) a
  * stage must restore the previous job description (a null-out wipes the
  * enclosing stage's / streaming engine's label for the rest of the
  * thread); (3) a multi-failure trigger must surface every cause;
  * (4) a bad fold cadence fails the loop's `run()` call, before any
  * checkpoint state exists.
  */
class IngestStagesSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("pooled stages carry the caller's job group; a later group-less caller runs clean") {
    val sc = spark.sparkContext
    // caller A: job group set — the stage (on a pool thread) must see it
    sc.setJobGroup("group-A", "caller A", interruptOnCancel = true)
    @volatile var seenA: String = "unset"
    IngestStages.inParallel(spark,
      "probe" -> (() => { seenA = sc.getLocalProperty("spark.jobGroup.id") }))
    sc.clearJobGroup()
    assert(seenA === "group-A", "stage did not carry its caller's job group")

    // caller B: NO job group — the same (now-warm, A-created) pool thread
    // must not retain A's group, or B's jobs become cancellable by A
    @volatile var seenB: String = "unset"
    (0 until 4).foreach { _ => // several stages to hit the reused thread
      IngestStages.inParallel(spark,
        "probe" -> (() => { seenB = sc.getLocalProperty("spark.jobGroup.id") }))
    }
    assert(seenB === null,
      s"pool thread leaked a stale job group to a group-less caller: $seenB")
  }

  test("pooled stage jobs carry the caller's streaming batch and query ids; a later id-less caller runs clean") {
    val sc = spark.sparkContext
    val ids = Seq("streaming.sql.batchId", "sql.streaming.queryId")
    // what a job launched inside a stage sees, read from its task
    def jobSees(): Seq[String] =
      sc.parallelize(Seq(0), 1).map { _ =>
        val tc = org.apache.spark.TaskContext.get()
        ids.map(tc.getLocalProperty)
      }.collect().head

    sc.setLocalProperty("streaming.sql.batchId", "7")
    sc.setLocalProperty("sql.streaming.queryId", "query-A")
    @volatile var seenA: Seq[String] = Nil
    try IngestStages.inParallel(spark, "probe" -> (() => { seenA = jobSees() }))
    finally ids.foreach(sc.setLocalProperty(_, null))
    assert(seenA === Seq("7", "query-A"), "stage job lost its trigger's ids")

    // caller B has no ids: the warm pool threads must not keep A's
    @volatile var seenB: Seq[String] = Nil
    (0 until 4).foreach { _ =>
      IngestStages.inParallel(spark, "probe" -> (() => { seenB = jobSees() }))
    }
    assert(seenB === Seq(null, null),
      s"pool thread leaked a stale batch or query id to an id-less caller: $seenB")
  }

  test("stage() restores the enclosing description — nested stages keep the outer label") {
    val sc = spark.sparkContext
    sc.setJobDescription("outer-engine-label")
    try {
      var inner: String = null
      IngestStages.stage(spark, "outer-stage") {
        IngestStages.stage(spark, "inner-stage") {
          inner = sc.getLocalProperty("spark.job.description")
        }
        assert(sc.getLocalProperty("spark.job.description") === "outer-stage",
          "inner stage wiped the outer stage's label")
      }
      assert(inner === "inner-stage")
      assert(sc.getLocalProperty("spark.job.description") === "outer-engine-label",
        "stage() must restore the pre-existing description, not null it")
    } finally sc.setJobDescription(null)
  }

  test("inParallel surfaces every failed stage: first thrown, siblings suppressed") {
    val e = intercept[RuntimeException] {
      IngestStages.inParallel(spark,
        "ok" -> (() => ()),
        "boom1" -> (() => throw new RuntimeException("boom1")),
        "boom2" -> (() => throw new IllegalStateException("boom2")))
    }
    val all = e.getMessage +: e.getSuppressed.toSeq.map(_.getMessage)
    assert(all.toSet === Set("boom1", "boom2"),
      s"expected both failures reported, got $all")
  }

  test("compactEvery = Some(0) fails each family's run() call: no checkpoint dir, no query") {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.streaming.StreamingQuery
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("embedding", ArrayType(FloatType))))
    val bad = Some(0)
    val loops: Seq[(String, (String, String, String) => StreamingQuery)] = Seq(
      "DocIndexIngest" -> ((in, root, cp) => DocIndexIngest.run(spark, in, root,
        schema, "text", "doc_id", cp, compactEvery = bad)),
      "EmbIndexIngest" -> ((in, root, cp) => EmbIndexIngest.run(spark, in, root,
        schema, "doc_id", "embedding", cp, compactEvery = bad)),
      "TextModelIngest" -> ((in, root, cp) => TextModelIngest.run(spark, in, root,
        schema, "text", "doc_id", lit(true), "lang", cp, compactEvery = bad)),
      "CurateIngest" -> ((in, root, cp) => CurateIngest.run(spark, in, root,
        schema, "text", "doc_id", cp, compactEvery = bad)),
      "PipelineIngest" -> ((in, root, cp) => PipelineIngest.run(spark, in, root,
        schema, "text", "doc_id", Some("embedding"), lit(true), "lang", cp,
        PipelineIngest.Config(compactEvery = bad))))
    loops.foreach { case (name, start) =>
      val base = java.nio.file.Files.createTempDirectory("graft-badcad").toFile
      val in = new java.io.File(base, "in")
      assert(in.mkdir())
      val cp = new java.io.File(base, "cp")
      val active = spark.streams.active.map(_.id).toSet
      val e = intercept[IllegalArgumentException] {
        start(in.getPath, s"$base/root", cp.getPath)
      }
      assert(e.getMessage.contains("compactEvery must be positive"), s"$name: $e")
      assert(!cp.exists(), s"$name created checkpoint state before failing")
      assert(spark.streams.active.map(_.id).toSet === active,
        s"$name started a query before failing")
    }
  }
}

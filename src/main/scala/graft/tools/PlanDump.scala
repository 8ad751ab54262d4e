package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame

/** Dev utility: write `.explain("formatted")` output (plus the post-AQE
  * executed plan) for declared queries to `plans/<dir>/<query>_<tag>.txt`
  * — the optimization rounds' before/after plan evidence.
  *
  *   runMain graft.tools.PlanDump r17 before q_topk q_curate ...
  *
  * Session config mirrors [[graft.Bench]] (same master/shuffle partitions
  * from SPARK_GRAFT_CPUS, same extensions), data dir from
  * SPARK_GRAFT_SF_DIR, so the dumped plan is the one the bench times.
  * Pseudo-entries for the bench-only composites are supported by name
  * (`pipeline_curate`).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <dir> <tag> <query>...")
    val (dir, tag, queries) = (args(0), args(1), args.drop(2).toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.session(s"local[$cpus]", cpus.toInt)
    // extra session conf, `k=v;k=v` — e.g. autoBroadcastJoinThreshold=-1
    // to dump the plan shape a cluster-scale (non-broadcastable) input
    // would take; dev tool only, never touches Bench's session
    sys.env.get("SPARK_GRAFT_PLANDUMP_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(s"spark.sql.$k", v)
    })
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(s"plans/$dir"))
    def frame(name: String): DataFrame = name match {
      case "pipeline_curate" =>
        graft.operators.Curation.curate(
          graft.sources.Tables.Fixture(spark, sfDir).documents, "text", "doc_id")
      // ONE PageRank round's contribs frame under the two edge layouts —
      // the r17 verdict's open mechanism question ("do the rounds still
      // exchange the edge list?"), answerable only from an in-loop plan:
      // `pagerank_round` holds the edges the way Curation.iterLayout
      // lays out BIG graphs (repartition(src) + sortWithinPartitions +
      // persist — partitioning AND ordering visible via the cached
      // plan); `pagerank_round_ckpt` the r17 way (repartition +
      // localCheckpoint — an ExistingRDD scan, UnknownPartitioning).
      // Dump both under SPARK_GRAFT_PLANDUMP_CONF=
      // autoBroadcastJoinThreshold=-1 to see the sort-merge shape a
      // cluster-scale rank table forces. Expressions mirror
      // Curation.pageRank/pageRankSym.
      case q @ ("pagerank_round" | "pagerank_round_ckpt") =>
        import org.apache.spark.sql.functions._
        val pairs = graft.operators.Dedup.minhashPairs(
          graft.sources.Tables.Fixture(spark, sfDir).documents,
          "text", "doc_id", 16, 4, 50, 64)
        val laid = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
          .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
          .distinct().repartition(col("src")).sortWithinPartitions("src")
        val sym =
          if (q.endsWith("_ckpt")) laid.localCheckpoint(true)
          else {
            val s = laid.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            s.count() // materialize the cache like pageRank's deg job does
            s
          }
        val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
          .localCheckpoint(true)
        val ranks = deg.select(col("src").as("id"), lit(1000000L).as("rank"))
          .localCheckpoint(true)
        sym.join(ranks.withColumnRenamed("id", "src"), "src")
          .join(deg, "src")
          .select(col("dst").as("id"), expr("rank DIV deg").as("c"))
          .groupBy("id").agg(sum(col("c")).as("s"))
      case q => graft.SparkEntry.queries(q)(spark, sfDir)
    }
    for (q <- queries) {
      val df = frame(q)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // Execute THIS Dataset's own QueryExecution (df.count() builds a
      // separate one and leaves df's executedPlan un-finalized — the r17
      // dumps recorded `isFinalPlan=false` initial plans as "final").
      // toRdd.count() runs the adaptive loop to completion on every
      // column (no count-only pruning), so the dump below is the
      // post-AQE FINAL plan; assert it so a regression here is loud.
      df.queryExecution.toRdd.count()
      val executed = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      require(!executed.linesIterator.take(1).exists(_.contains("isFinalPlan=false")),
        s"$q: top-level executed plan still isFinalPlan=false after execution")
      Files.writeString(Paths.get(s"plans/$dir/${q}_$tag.txt"),
        s"== explain(formatted), $sfDir ==\n$formatted\n" +
          s"== executed plan (post-AQE final) ==\n$executed")
      println(s"[plandump] wrote plans/$dir/${q}_$tag.txt")
    }
    spark.stop()
  }
}

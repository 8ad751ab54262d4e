package graft

import graft.operators.Aggregates
import graft.sources.{Sinks, Tables}

/** Contracts for the scale-critical building blocks: mergeable sketches,
  * bucketed (exchange-free) join layout, and on-disk training shards.
  */
class ScaleOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("kmh quantile sketch: KMV merge identity exact; estimates track exact percentiles") {
    import org.apache.spark.sql.functions.col
    val events = Tables.Fixture(spark, sfDir).events
    val k = 64
    // MERGE IDENTITY, exactly: bottom-k of the union == bottom-k of the
    // merged per-half bottom-ks (deterministic md5 rank makes both sides
    // bit-comparable — the property float sketches can only approximate)
    val whole = Aggregates.kmhSample(events, "event_type", "event_id", k)
      .select("event_type", "event_id").collect().map(_.toSeq).toSet
    val a = Aggregates.kmhSample(
      events.filter(col("event_id") % 2 === 0), "event_type", "event_id", k)
    val b = Aggregates.kmhSample(
      events.filter(col("event_id") % 2 === 1), "event_type", "event_id", k)
    val merged = Aggregates.kmhSample(a.unionByName(b), "event_type", "event_id", k)
      .select("event_type", "event_id").collect().map(_.toSeq).toSet
    assert(whole.nonEmpty, "a regressed-to-empty sampler would pass vacuously")
    assert(merged === whole, "KMV bottom-k merge identity must hold exactly")
    // estimates land near the exact per-group percentiles (k=64 → ~±6pp;
    // assert a generous band so the pin survives fixture regeneration)
    val est = Aggregates.kmhQuantiles(events, "event_type", "event_id", "value", k)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val exact = Aggregates.percentiles(events, "event_type", "value")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (g, p50) =>
      assert(math.abs(est(g) - p50) <= 25.0,
        s"sketch p50 for $g drifted: est ${est(g)} vs exact $p50")
    }
  }

  test("HLL sketches estimate per group and merge losslessly to the global rollup") {
    val events = Tables.Fixture(spark, sfDir).events
    val perKey = Aggregates.hllSketches(events, "event_type", "user_id")
    val exact = events.select("user_id").distinct().count()
    val merged = Aggregates.hllRollup(perKey).collect().head.getLong(0)
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"union of per-group sketches must track global exact: $merged vs $exact")
    val direct = events.agg(
      org.apache.spark.sql.functions.hll_sketch_estimate(
        org.apache.spark.sql.functions.hll_sketch_agg($"user_id")).as("e"))
      .collect().head.getLong(0)
    assert(merged === direct,
      "merging group sketches must equal sketching the whole column (mergeability)")
  }

  test("count-min sketches: one-sided error, merged probe equals global sketch probe") {
    val docs = Tables.Fixture(spark, sfDir).documents
    val toks = graft.operators.TextAnalysis.tokenRows(docs, "text", "doc_id")
    val exact = toks.groupBy("tok").count()
      .orderBy(org.apache.spark.sql.functions.desc("count"), $"tok")
      .limit(5).as[(String, Long)].collect()
    assert(exact.length === 5,
      "the corpus must yield probe tokens (an empty loop checks nothing)")
    val nToks = toks.count() // hoisted: one job, not one per probed token
    // per-lang partial sketches (join back lang for grouping)
    val withLang = toks.join(docs.select("doc_id", "lang"), "doc_id")
    val perLang = Aggregates.cmsSketches(withLang, "lang", "tok")
    val probed = Aggregates.cmsProbe(perLang, exact.map(_._1).toSeq)
    exact.foreach { case (tok, trueCount) =>
      val est = probed(tok)
      assert(est >= trueCount, s"CMS must never undercount: $tok est=$est true=$trueCount")
      assert(est <= trueCount + (nToks / 1000),
        s"overcount beyond eps*N: $tok est=$est true=$trueCount")
    }
    // mergeability: probing merged per-group sketches == probing one
    // sketch over the whole column
    val global = Aggregates.cmsSketches(
      withLang.withColumn("one", org.apache.spark.sql.functions.lit(1)), "one", "tok")
    val globalProbe = Aggregates.cmsProbe(global, exact.map(_._1).toSeq)
    assert(probed === globalProbe,
      "merging per-group sketches must equal sketching the whole column")
  }

  test("bucketed tables join with zero exchanges (shuffle paid at write time)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val f = Tables.Fixture(spark, sfDir)
      Sinks.writeBucketed(f.orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        "b_orders", "o_custkey", 4)
      Sinks.writeBucketed(f.customer.select("c_custkey", "c_name"),
        "b_customer", "c_custkey", 4)
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), $"o_custkey" === $"c_custkey")
      val n = joined.count()
      assert(n === f.orders.join(f.customer, $"o_custkey" === $"c_custkey").count())
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("training shards on disk: one partition per shard, rows stored in pos order") {
    val docs = Tables.Fixture(spark, sfDir).documents.select("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("shards").toString
    Sinks.writeTrainingShards(docs, "doc_id", nShards = 4, outDir = out)
    val expected = graft.operators.Sampling.shuffleShard(docs, "doc_id", 4)
      .as[(Long, Int, Long)].collect().groupBy(_._2)
    (0 until 4).foreach { k =>
      val rows = spark.read.parquet(s"$out/shard=$k")
        .select("doc_id", "pos").as[(Long, Long)].collect()
      val exp = expected(k).map(t => (t._1, t._3)).sortBy(_._2)
      assert(rows.sortBy(_._2).toSeq === exp.toSeq,
        s"shard $k content/positions must match the operator's assignment")
      assert(rows.map(_._2).toSeq === rows.map(_._2).sorted.toSeq,
        s"shard $k rows must be STORED in pos order, not just carry a pos column")
    }
  }
}

package graft

import graft.operators.{Sampling, TextAnalysis}

/** Contracts for the dataset-construction operators: deterministic hash
  * sampling, sequence packing, PII scrubbing, TF-IDF ranking (oracle
  * parity is covered by the declared-query harness; these pin semantics).
  */
class SamplingSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "en", "mail me at alice@example.com or visit https://example.com/a today"),
    (2L, "en", "spark shuffles partitions across executors " * 20),
    (3L, "de", "der hund und die katze sind nicht da"),
    (4L, "en", "call 555-123-4567 or account 1234567 now"),
    (5L, "de", "die daten sind gross und verteilt"))
    .toDF("doc_id", "lang", "text")

  test("hash sample is deterministic, stable under repartition, and ~keep/mod sized") {
    val big = spark.range(2000).toDF("doc_id")
    val a = Sampling.sampleByHash(big, "doc_id", 5, 1).as[Long].collect().toSet
    val b = Sampling.sampleByHash(big.repartition(13), "doc_id", 5, 1).as[Long].collect().toSet
    assert(a === b, "membership must not depend on physical layout")
    assert(math.abs(a.size - 400) < 100, s"~1/5 of 2000 expected, got ${a.size}")
    assert(Sampling.sampleByHash(big, "doc_id", 5, 5).count() === 2000)
    assert(Sampling.sampleByHash(big, "doc_id", 5, 0).count() === 0)
  }

  test("stratified sample applies per-stratum rates") {
    val big = spark.range(3000)
      .selectExpr("id AS doc_id", "CASE WHEN id % 3 = 0 THEN 'en' ELSE 'de' END AS lang")
    val kept = Sampling.sampleStratified(big, "lang", "doc_id", Map("en" -> 100), 0)
    assert(kept.filter("lang = 'de'").count() === 0)
    assert(kept.filter("lang = 'en'").count() === 1000)
  }

  test("sequence packing: bins respect the token budget within each shard") {
    val packed = Sampling.packSequences(docs, "text", "doc_id", "lang", tokenBudget = 50)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getAs[Long]("bin")))
    // de shard: 8 + 6 tokens → both start inside bin 0
    assert(packed.filter(_._2 == "de").map(_._4).toSet === Set(0L))
    // en shard: doc 1 starts at 0 → bin 0; doc 2 (120 tokens) starts at
    // 10 → bin 0; doc 4 starts at 130 → bin 2
    val en = packed.filter(_._2 == "en").map(p => p._1 -> p._4).toMap
    assert(en === Map(1L -> 0L, 2L -> 0L, 4L -> 2L), s"en bins: $en")
  }

  test("quality-weighted sampling: keep rate scales with score, deterministic, nests") {
    // high-diversity docs vs stopword soup: the soup's keep_pct must be lower
    val corpus = (0 until 400).map { i =>
      val text =
        if (i % 2 == 0) (1 to 60).map(j => s"w${(i * 61 + j) % 997}").mkString(" ") // diverse
        else "the a of and to in " * 10 // stopword soup, low score
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val kept = Sampling.sampleByQuality(corpus, "text", "doc_id", maxPct = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (diverse, soup) = kept.partition(_._1 % 2 == 0)
    assert(diverse.length > 2 * math.max(1, soup.length),
      s"diverse docs must survive at a far higher rate: ${diverse.length} vs ${soup.length}")
    assert(kept.forall { case (_, score, pct) => pct == score * 50 / 1000 })
    // deterministic + nesting as maxPct grows
    val again = Sampling.sampleByQuality(corpus.repartition(7), "text", "doc_id", 50)
      .collect().map(_.getLong(0)).toSet
    assert(again === kept.map(_._1).toSet)
    val wider = Sampling.sampleByQuality(corpus, "text", "doc_id", 90)
      .collect().map(_.getLong(0)).toSet
    assert(kept.map(_._1).toSet.subsetOf(wider))
  }

  test("source cap keeps at most N per group; prefixes nest as the cap grows") {
    val big = spark.range(300).selectExpr(
      "id AS doc_id", "concat('src', CAST(id % 3 AS STRING)) AS source")
    val capped = Sampling.sourceCap(big, "source", "doc_id", cap = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(capped.length === 30)
    assert(capped.groupBy(_._2).forall(_._2.length == 10))
    assert(capped.forall(_._3 <= 10L))
    // growing the cap extends the kept set (hash prefixes nest)
    val wider = Sampling.sourceCap(big, "source", "doc_id", cap = 25)
      .collect().map(_.getLong(0)).toSet
    assert(capped.map(_._1).toSet.subsetOf(wider))
    // stable under physical layout
    val relaid = Sampling.sourceCap(big.repartition(7), "source", "doc_id", cap = 10)
      .collect().map(_.getLong(0)).toSet
    assert(relaid === capped.map(_._1).toSet)
    // cap above the group size keeps everything
    assert(Sampling.sourceCap(big, "source", "doc_id", cap = 1000).count() === 300)
  }

  test("chunking covers every token, overlaps by chunk-stride, and skips blank docs") {
    val corpus = Seq(
      (1L, (1 to 100).map(i => s"t$i").mkString(" ")), // 100 toks -> 4 chunks
      (2L, "a b c"),                                   // shorter than one chunk
      (3L, "  \t "),                                   // blank -> no chunks
      (4L, (1 to 32).map(i => s"u$i").mkString(" ")),  // exactly one chunk
      (5L, (1 to 33).map(i => s"v$i").mkString(" ")))  // one token over -> 2 chunks
      .toDF("doc_id", "text")
    val chunks = Sampling.chunkDocs(corpus, "text", "doc_id", chunkTokens = 32, stride = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byDoc = chunks.groupBy(_._1)
    assert(!byDoc.contains(3L), "blank doc must yield no chunks")
    assert(byDoc(2L).toSeq === Seq((2L, 1L, 3L, "a b c")))
    assert(byDoc(4L).length === 1 && byDoc(4L).head._3 === 32L)
    assert(byDoc(5L).length === 2)
    assert(byDoc(5L).find(_._2 == 2L).get._4 ===
      (25 to 33).map(i => s"v$i").mkString(" "), "second chunk starts at token 25")
    // doc 1: starts 1, 25, 49, 73 -> last covers tokens 73..100
    val d1 = byDoc(1L).sortBy(_._2)
    assert(d1.map(_._2) === Array(1L, 2L, 3L, 4L))
    assert(d1.last._4.endsWith("t100"), "final token must be covered")
    assert(d1.map(_._3) === Array(32L, 32L, 32L, 28L))
    // consecutive chunks overlap by 32-24=8 tokens
    val c1 = d1(0)._4.split(" ").takeRight(8).toSeq
    assert(d1(1)._4.split(" ").take(8).toSeq === c1)
  }

  test("PII scrub replaces emails, urls, phones, digit runs and counts hits") {
    val out = TextAnalysis.scrubPii(docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    val d1 = out(1L).getAs[String]("scrubbed")
    assert(d1.contains("<EMAIL>") && d1.contains("<URL>"))
    assert(!d1.contains("alice@") && !d1.contains("https://"))
    assert(out(1L).getAs[Long]("n_email") === 1L)
    assert(out(1L).getAs[Long]("n_url") === 1L)
    val d4 = out(4L).getAs[String]("scrubbed")
    assert(d4.contains("<PHONE>") && d4.contains("<NUM>"), d4)
    assert(out(4L).getAs[Long]("n_phone") === 1L)
    assert(out(2L).getAs[String]("scrubbed") === docs.filter("doc_id = 2")
      .collect().head.getAs[String]("text"), "clean text must pass through unchanged")
  }

  test("tf-idf ranks stratum-specific terms above corpus-wide ones") {
    val top = TextAnalysis.tfIdfTopTerms(docs, "text", "doc_id", k = 3)
    val terms2 = top.filter("doc_id = 2").select("term").as[String].collect().toSet
    // doc 2's repeated unique vocabulary must win over shared words
    assert(terms2.subsetOf(Set("spark", "shuffles", "partitions", "across", "executors")),
      s"distinctive terms expected, got $terms2")
    val ranks = top.filter("doc_id = 2").select("rnk").as[Long].collect().sorted
    assert(ranks.toSeq === Seq(1L, 2L, 3L))
  }

  test("mixture sampling: shares respected, prefixes nest as the budget grows") {
    val big = spark.range(600).selectExpr("id AS doc_id",
      "CASE WHEN id % 3 = 0 THEN 'web' WHEN id % 3 = 1 THEN 'books' ELSE 'code' END AS source",
      // ~10 tokens per doc
      "'tok tok tok tok tok tok tok tok tok tok' AS text")
    val weights = Map("web" -> 600, "books" -> 300, "code" -> 100)
    val small = Sampling.mixtureByTokenBudget(big, "text", "doc_id", "source",
      weights, totalBudget = 1000L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getAs[Long]("n_tokens")))
    // all three sources must actually land rows — an operator regressed
    // to empty output would pass the per-source loop below vacuously
    assert(small.map(_._2).toSet === Set("web", "books", "code"),
      s"every source fills under this budget, got ${small.map(_._2).toSet}")
    // per-source token totals respect the share up to one doc of overshoot
    small.groupBy(_._2).foreach { case (src, rows) =>
      val share = weights(src) * 1L // permille * (1000/1000)
      val toks = rows.map(_._3).sum
      assert(toks < share + 10, s"$src exceeded its share by a full doc: $toks vs $share")
      assert(toks >= share - 10 || rows.isEmpty, s"$src under-filled: $toks vs $share")
    }
    // growing the budget extends the sample without dropping prior members
    val bigger = Sampling.mixtureByTokenBudget(big, "text", "doc_id", "source",
      weights, totalBudget = 3000L).select("doc_id").as[Long].collect().toSet
    assert(small.map(_._1).toSet.subsetOf(bigger), "hash-order prefixes must nest")
    // unknown source with defaultPermille = 0 contributes nothing
    val withUnknown = Sampling.mixtureByTokenBudget(
      big.withColumn("source", org.apache.spark.sql.functions.lit("mystery")),
      "text", "doc_id", "source", weights, totalBudget = 1000L)
    assert(withUnknown.count() === 0L)
  }

  test("importanceSample: priority = (w*2^20) DIV u, top-n deterministic, zero weights never sample") {
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, 100L), (2L, 100L), (3L, 1L), (4L, 0L), (5L, -5L))
      .toDF("doc_id", "w")
    val out = Sampling.importanceSample(df, "w", "doc_id", n = 3)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("priority")))
    // re-derive expected priorities with the same md5 hash
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 15), 16)
    }
    val M = 1048576L
    def prio(id: Long, w: Long) = (w * M) / (math.floorMod(h60(id.toString), M) + 1L)
    val expected = Seq(1L -> 100L, 2L -> 100L, 3L -> 1L)
      .map { case (id, w) => (id, prio(id, w)) }
      .sortBy { case (id, p) => (-p, id) }
    assert(out.toSeq === expected)
    // zero/negative weights are filtered, never sampled
    assert(!out.map(_._1).contains(4L) && !out.map(_._1).contains(5L))
    // determinism across invocations
    val again = Sampling.importanceSample(df, "w", "doc_id", n = 3)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("priority")))
    assert(again.toSeq === out.toSeq)
  }

  test("importanceSample: weights past the 2^43 priority bound raise; the bound samples") {
    val over = Seq((1L, (Long.MaxValue >> 20) + 1L)).toDF("id", "w")
    val thrown = intercept[Throwable] {
      Sampling.importanceSample(over, "w", "id", 1).collect()
    }
    assert(org.apache.commons.lang3.exception.ExceptionUtils
      .getRootCauseMessage(thrown).contains("priority bound"),
      s"expected a priority-bound raise, got $thrown")
    // and the bound itself still samples (no false raise)
    val ok = Sampling.importanceSample(
      Seq((1L, Long.MaxValue >> 20)).toDF("id", "w"), "w", "id", 1).collect()
    assert(ok.length === 1 && ok(0).getAs[Long]("priority") > 0L)
  }

  test("assignSplit: exhaustive labeled partition; stable under corpus growth; remainder to last") {
    import org.apache.spark.sql.functions.col
    val df = (0L until 200L).toDF("doc_id")
    val out = Sampling.assignSplit(df, "doc_id",
        Seq(("train", 80), ("val", 10), ("test", 10)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // exhaustive: every row labeled, only the three names
    assert(out.size === 200 && out.values.toSet === Set("train", "val", "test"))
    // roughly proportional (hash-uniform; generous bands)
    val counts = out.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 130 && counts("val") > 5 && counts("test") > 5)
    // growth stability: adding rows never moves an existing assignment
    val bigger = Sampling.assignSplit((0L until 400L).toDF("doc_id"), "doc_id",
        Seq(("train", 80), ("val", 10), ("test", 10)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.forall { case (id, s) => bigger(id) == s })
    // remainder falls to the LAST split: pcts summing under 100
    val rem = Sampling.assignSplit(df, "doc_id", Seq(("a", 50), ("b", 10)))
      .collect().map(_.getString(1))
    assert(rem.toSet === Set("a", "b")) // 40% remainder labeled "b"
    assert(rem.count(_ == "b") > 60)    // ~50% of 200
  }

  test("shuffle-shard: dense per-shard positions, deterministic, layout-stable") {
    val big = spark.range(1000).toDF("doc_id")
    val a = Sampling.shuffleShard(big, "doc_id", nShards = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // every doc assigned exactly once; shards cover 0..7
    assert(a.length === 1000 && a.map(_._1).distinct.length === 1000)
    assert(a.map(_._2).toSet === (0 until 8).toSet)
    // positions within each shard are dense 0..n-1 (a reader can seek)
    a.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (0L until rows.length).toSeq,
        s"shard $shard positions not dense")
    }
    // stable under physical layout (retry/repartition safety)
    val b = Sampling.shuffleShard(big.repartition(13), "doc_id", nShards = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(a.sortBy(_._1).toSeq === b.toSeq)
    // the order decorrelates from input order: consecutive ids rarely
    // stay consecutive in (shard, pos) — md5 scatters
    val sameShardAdjacent = a.sortBy(_._1).sliding(2).count {
      case Array(x, y) => x._2 == y._2 && y._3 == x._3 + 1
      case _ => false
    }
    assert(sameShardAdjacent < 50, s"md5 order must scatter, got $sameShardAdjacent")
  }

  test("clusterSample: nearest-cosine assignment, tie to lowest seed id, exact quota, layout-stable") {
    val seeds = Seq(
      (20L, Seq(0f, 1f)),   // deliberately passed out of id order —
      (10L, Seq(1f, 0f)))   // assignment must sort seeds ascending
      .toDF("vec_id", "embedding")
    val members10 = (100L to 107L).map(i => (i, Seq(1f, 0.01f * (i - 100))))
    val members20 = (200L to 202L).map(i => (i, Seq(0.01f * (i - 200), 1f)))
    val tiePt = (300L, Seq(1f, 1f))   // bit-equal cosine to both seeds
    val zero = (400L, Seq(0f, 0f))    // excluded: no cosine direction
    val emb = (members10 ++ members20 :+ tiePt :+ zero).toDF("vec_id", "embedding")

    val out = Sampling.clusterSample(emb, seeds, "vec_id", "embedding", quota = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byCluster = out.groupBy(_._1)
    // quota binds on the big cluster (8 members + tie = 9 → 5 kept),
    // not on the small one (3 members → all kept)
    assert(byCluster(10L).length === 5 && byCluster(20L).length === 3)
    // ranks are dense 1..n within each cluster
    byCluster.foreach { case (c, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq, s"cluster $c ranks")
    }
    // membership: every kept vec belongs to the right cluster; the tie
    // point lands in the LOWEST seed id's cluster (if it survives quota)
    assert(byCluster(20L).map(_._2).toSet === Set(200L, 201L, 202L))
    assert(byCluster(10L).forall(r => r._2 == 300L || (r._2 >= 100L && r._2 <= 107L)))
    assert(!out.exists(_._2 == 400L), "zero-norm vector must be excluded")
    // tie-break direction: assignment alone (quota large) puts 300 in cluster 10
    val all = Sampling.clusterSample(emb, seeds, "vec_id", "embedding", quota = 100)
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(all(300L) === 10L, "bit-equal cosines must break to the lowest seed id")
    assert(all.size === 12, "everything but the zero vector is sampled at large quota")
    // deterministic under physical layout
    val relaid = Sampling.clusterSample(emb.repartition(7), seeds, "vec_id", "embedding", quota = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(relaid.sortBy(r => (r._1, r._2)).toSeq === out.sortBy(r => (r._1, r._2)).toSeq)
  }
}

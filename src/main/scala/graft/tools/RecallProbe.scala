package graft.tools

import org.apache.spark.sql.functions.col

import graft.NsQueries.{AnnBudget => AnnB}
import graft.operators.Similarity
import graft.sources.Tables.Fixture

/** Diagnostic main: sweep IVF tuning knobs against the exact cosine top-k
  * and print recall@10 per configuration — the measurement loop behind the
  * declared `q_ann_ivf` parameter choices (the bench records recall every
  * round; this tool answers "which knob, at what scan-fraction cost").
  * The multi-assignment margin now baked into [[Similarity.annIvf]] came
  * out of this loop: single-assignment recall tracked the scanned
  * fraction almost linearly on the near-random fixture (nprobe 4/5/6/8 of
  * 16 → 0.55/0.63/0.70/0.83), finer nlist at the same fraction was
  * WORSE (sample-trained centroids get noisier), query-side adaptive
  * probing was flat (margins carry no signal on random data), and
  * eps=0.1 multi-assignment reached 0.88 at nprobe=5.
  *
  * args(0): comma-separated "nlist:nprobe" pairs (bare N means 16:N).
  * `SPARK_GRAFT_SF_DIR` selects the fixture (default sf0.01).
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Graft.session("local[16]", 16)
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_REP=R inflates the fixture with R−1 id-shifted replicas
    // (ScaleBench's exact replica semantics: vectors unchanged, ids
    // disjoint) — the 10× bucket-density sweep. Replicas of a query are
    // exact copies (cosine 1), so the exact top-k is dominated by them;
    // the sweep then verifies the ANN layouts still FIND their own
    // bucket/cell under 10× density (bucket balance), which is the claim
    // the sf0.1-tuned margins needed checked at scale.
    val rep = sys.env.getOrElse("SPARK_GRAFT_REP", "1").toInt
    val emb0 = Fixture(spark, sfDir).embeddings
    val emb = (if (rep <= 1) emb0
      else graft.ScaleBench.inflateEmb(emb0, rep)).localCheckpoint(true)
    // the ONE sweep protocol, shared with Bench's per-round recall_at_10
    // record (graft.NsQueries.AnnBudget) — the tool and the artifact can
    // never measure different query sets
    val queryIds = graft.NsQueries.AnnBudget.sweepQueryIds
      .filter(q => emb.filter(col("vec_id") === q).count() > 0)
    require(queryIds.nonEmpty,
      s"none of the sweep query ids ${graft.NsQueries.AnnBudget.sweepQueryIds}" +
        s" exist in $sfDir embeddings — recall would be 0/0")
    def topkSet(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = queryIds.map(q =>
      q -> topkSet(Similarity.cosineTopK(emb, "vec_id", "embedding", q, 10))).toMap
    def report(label: String, f: Long => org.apache.spark.sql.DataFrame): Unit = {
      // divisor = |exact top-k|, the same formula Bench's per-round sweep
      // uses (identical when the fixture yields a full 10; on a tiny
      // fixture a /10.0 would understate recall and desync the two)
      val rs = queryIds.map(q =>
        topkSet(f(q)).intersect(exact(q)).size.toDouble
          / math.max(1, exact(q).size))
      println(f"RECALL $label%-36s mean=${rs.sum / rs.size}%.2f per-q=${rs.mkString(",")}")
    }
    val configs = args.headOption
      .map(_.split(",").toSeq.map { s =>
        s.split(":") match {
          case Array(nl, np) => (nl.toInt, np.toInt)
          case Array(np)     => (16, np.toInt)
        }
      })
      .getOrElse(Seq((16, 5), (16, 6), (16, 7), (16, 8)))
    for ((nl, np) <- configs)
      report(f"ivf nlist=$nl nprobe=$np (${np.toDouble / nl}%.2f scanned)",
        q => Similarity.annIvf(emb, "vec_id", "embedding", q, 10, nl, np))
    // args(1) = "eps=e1,e2,...": sweep the multi-assignment margin at the
    // declared nlist=16/nprobe=5
    args.drop(1).find(_.startsWith("eps=")).foreach { a =>
      for (eps <- a.stripPrefix("eps=").split(",").map(_.toDouble))
        report(f"ivf 16/5 multiEps=$eps%.2f",
          q => Similarity.annIvf(emb, "vec_id", "embedding", q, 10, 16, 5, multiEps = eps))
    }
    // args(1) = "mp=planes:T,...": sweep the multi-probe (planes, T)
    // grid, printing recall AND the MEASURED scanned fraction (sum of
    // probed-bucket sizes / corpus — buckets are not uniform, so the
    // naive T/2^planes estimate under-counts the actual budget)
    args.drop(1).find(_.startsWith("mp=")).foreach { a =>
      val n = emb.count().toDouble
      for (cfg <- a.stripPrefix("mp=").split(",")) {
        val Array(p, t) = cfg.split(":").map(_.toInt)
        val sizes = Similarity.lshBuckets(emb, "embedding", p)
          .groupBy(col("bucket")).count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val fracs = queryIds.map(q =>
          Similarity.lshProbeBuckets(emb, "vec_id", "embedding", q, p, t)
            .map(b => sizes.getOrElse(b, 0L)).sum / n)
        val frac = fracs.sum / fracs.size
        report(f"lsh-mp planes=$p T=$t scan=$frac%.2f",
          q => Similarity.annLshMultiProbe(emb, "vec_id", "embedding", q, 10,
            planes = p, probeBuckets = t))
      }
    }
    // args(1) = "ivfpq=nprobe:rerank,...": sweep the COMPOSED IVF-PQ
    // probe against a store built once (nlist=16) — recall@10 per
    // (cell-budget, rerank-budget) pair, the curve behind the declared
    // nprobe=5/rerank=200 choice. The scan fraction is nprobe/nlist of
    // the CODES table (16× below the raw vectors) + rerank raw rows.
    args.drop(1).find(_.startsWith("ivfpq=")).foreach { a =>
      val dir = java.nio.file.Files.createTempDirectory("graft-recall-ivfpq").toString
      graft.streaming.EmbIndexIngest.processBatch(
        spark, emb, dir, "vec_id", "embedding", 0L,
        graft.streaming.EmbIndexIngest.Config(nlist = AnnB.nlist))
      val cents = graft.streaming.EmbIndexIngest.readCentroids(spark, dir)
      val books = graft.streaming.EmbIndexIngest.readBooks(spark, dir)
      val codes = graft.streaming.EmbIndexIngest.readCodes(spark, dir).localCheckpoint(true)
      val vecs = graft.streaming.EmbIndexIngest.readVectors(spark, dir).localCheckpoint(true)
      def qv(q: Long): Array[Float] = emb.filter(col("vec_id") === q)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      for (cfg <- a.stripPrefix("ivfpq=").split(",")) {
        val Array(np, rr) = cfg.split(":").map(_.toInt)
        report(f"ivfpq 16/$np rerank=$rr (${np / 16.0}%.2f codes scanned)",
          q => Similarity.annIvfPqProbe(codes, vecs, cents, books, qv(q),
            "vec_id", "embedding", excludeId = q, k = 10,
            nprobe = np, rerank = rr))
      }
    }
    // args(1) = "lsh=eps1,eps2,...": sweep the index-side margin spill of
    // the declared q_ann_lsh config (AnnBudget.planes/lshT), printing
    // the replication factor alongside recall
    args.drop(1).find(_.startsWith("lsh=")).foreach { a =>
      val n = emb.count().toDouble
      for (eps <- a.stripPrefix("lsh=").split(",").map(_.toDouble)) {
        val repl = Similarity.lshBucketsMulti(
          emb, "embedding", AnnB.planes, eps).count() / n
        report(f"lsh planes=${AnnB.planes} T=${AnnB.lshT} eps=$eps%.2f repl=$repl%.2f",
          q => Similarity.annLshMultiProbe(emb, "vec_id", "embedding", q, 10,
            planes = AnnB.planes, probeBuckets = AnnB.lshT, multiEps = eps))
      }
    }
    spark.stop()
  }
}

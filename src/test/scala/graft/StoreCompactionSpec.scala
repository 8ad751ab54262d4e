package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.Tables.Fixture
import graft.streaming.{DocIndexIngest, EmbIndexIngest, StoreCompaction}
import graft.streaming.DocIndexIngest.Config

/** Small-file compaction of the batch-accumulating index stores:
  * content-preservation (hash-equal rows per store), the file-count win
  * it exists for, probe equivalence against an uncompacted twin, and the
  * crash protocol (roll-forward after a committed stage, roll-back after
  * an uncommitted one).
  */
class StoreCompactionSpec extends SparkTestBase {

  private val cfg = Config(partitionMod = 16)

  private def tmp(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p.toString
  }

  private def docs: DataFrame = Fixture(spark, sfDir).documents

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Seq.empty
    val root = new java.io.File(dir)
    if (root.exists()) walk(root) else Seq.empty
  }

  private def batchDirs(dir: String): Seq[String] = {
    val root = new java.io.File(dir)
    if (!root.exists()) Seq.empty
    else root.listFiles().toSeq.map(_.getName).filter(_.startsWith("batch_id="))
  }

  private def ingest3(root: String): Unit =
    (0 until 3).foreach { i =>
      DocIndexIngest.processBatch(spark,
        docs.filter(col("doc_id") % 3 === i), root, "text", "doc_id",
        i.toLong, cfg)
    }

  test("compactStores preserves every store's rows and collapses batch dirs") {
    val root = tmp("graft-cmp")
    ingest3(root)
    val before = Map(
      "corpus" -> rows(DocIndexIngest.readCorpus(spark, root, docs)),
      "lsh" -> rows(DocIndexIngest.readLsh(spark, root, "doc_id")),
      "prefix" -> rows(DocIndexIngest.readPrefix(spark, root, "doc_id")),
      "pairs" -> rows(spark.read.parquet(DocIndexIngest.pairsDir(root))
        .drop("batch_id")))
    val filesBefore = parquetFiles(DocIndexIngest.lshDir(root)).size

    DocIndexIngest.compactStores(spark, root, upToBatch = 2L, cfg)

    assert(rows(DocIndexIngest.readCorpus(spark, root, docs)) === before("corpus"))
    assert(rows(DocIndexIngest.readLsh(spark, root, "doc_id")) === before("lsh"))
    assert(rows(DocIndexIngest.readPrefix(spark, root, "doc_id")) === before("prefix"))
    assert(rows(spark.read.parquet(DocIndexIngest.pairsDir(root))
      .drop("batch_id")) === before("pairs"))
    // layout: stores folded to the single base partition (pairs only if
    // it had >= 2 batch partitions to fold — compact no-ops otherwise)
    for (d <- Seq(DocIndexIngest.corpusDir(root), DocIndexIngest.lshDir(root)))
      assert(batchDirs(d) === Seq("batch_id=-1"), s"unfolded dirs under $d")
    assert(!batchDirs(DocIndexIngest.pairsDir(root))
      .exists(n => n != "batch_id=-1" && n.stripPrefix("batch_id=").toLong <= 2L)
      || batchDirs(DocIndexIngest.pairsDir(root)).size == 1)
    // the win itself: 3 batches x bmod classes -> one file run per class
    val filesAfter = parquetFiles(DocIndexIngest.lshDir(root)).size
    assert(filesAfter < filesBefore,
      s"lsh file count did not drop: $filesBefore -> $filesAfter")
    // no residue
    assert(!new java.io.File(DocIndexIngest.lshDir(root) + ".tmp").exists())
    assert(!new java.io.File(DocIndexIngest.lshDir(root) + ".bak").exists())
  }

  test("a batch ingested after compaction probes identically to an uncompacted twin") {
    val rootA = tmp("graft-cmpA")
    val rootB = tmp("graft-cmpB")
    ingest3(rootA); ingest3(rootB)
    DocIndexIngest.compactStores(spark, rootA, upToBatch = 2L, cfg)
    // batch 3 = 10% of docs, overlapping all residue classes
    val b3 = docs.filter(col("doc_id") % 10 === 0)
    val pairsA = rows(DocIndexIngest
      .processBatch(spark, b3, rootA, "text", "doc_id", 3L, cfg))
    val pairsB = rows(DocIndexIngest
      .processBatch(spark, b3, rootB, "text", "doc_id", 3L, cfg))
    assert(pairsA === pairsB, "compacted store probed differently")
    // and the stores stay content-equal afterwards
    assert(rows(DocIndexIngest.readLsh(spark, rootA, "doc_id")
        .select("doc_id", "band", "bucket")) ===
      rows(DocIndexIngest.readLsh(spark, rootB, "doc_id")
        .select("doc_id", "band", "bucket")))
  }

  test("crash after the committed stage rolls FORWARD on heal; uncommitted rolls back") {
    val root = tmp("graft-cmpc")
    ingest3(root)
    val lsh = DocIndexIngest.lshDir(root)
    val want = rows(DocIndexIngest.readLsh(spark, root, "doc_id"))

    // crash point A: stage committed (tmp + _COMMIT), swap never started.
    // The primary is untouched — readers are unaffected before heal.
    StoreCompaction.stage(spark, lsh, Seq("bmod"), upToBatch = 2L)
    assert(new java.io.File(s"$lsh.tmp/_COMMIT").exists())
    assert(rows(DocIndexIngest.readLsh(spark, root, "doc_id")) === want)
    StoreCompaction.heal(spark, lsh)
    assert(batchDirs(lsh) === Seq("batch_id=-1"), "heal did not roll forward")
    assert(rows(DocIndexIngest.readLsh(spark, root, "doc_id")) === want)
    assert(!new java.io.File(s"$lsh.tmp").exists())
    assert(!new java.io.File(s"$lsh.bak").exists())

    // crash point B: stage died before its _COMMIT marker -> roll back
    val junk = new java.io.File(s"$lsh.tmp/batch_id=-1")
    junk.mkdirs()
    Files.write(junk.toPath.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    StoreCompaction.heal(spark, lsh)
    assert(!new java.io.File(s"$lsh.tmp").exists(), "uncommitted tmp not dropped")
    assert(rows(DocIndexIngest.readLsh(spark, root, "doc_id")) === want)
  }

  test("_VIEW manifest: a probe racing the swap reads the complete snapshot, never the gap") {
    val root = tmp("graft-view")
    ingest3(root)
    val lsh = DocIndexIngest.lshDir(root)
    val want = rows(DocIndexIngest.readLsh(spark, root, "doc_id"))

    // the stage commit opens the snapshot window: _VIEW names the whole
    // post-fold snapshot (here: everything folded -> the staged run)
    StoreCompaction.stage(spark, lsh, Seq("bmod"), upToBatch = 2L)
    assert(new java.io.File(s"$lsh/_VIEW").exists(), "stage did not open _VIEW")

    // torn middle of the swap: one source rotated away (what finish()'s
    // rotate does), primary short — the raw listing read IS the gap
    new java.io.File(s"$lsh.bak").mkdirs()
    Files.move(java.nio.file.Paths.get(s"$lsh/batch_id=0"),
      java.nio.file.Paths.get(s"$lsh.bak/batch_id=0"))
    val raw = rows(spark.read.parquet(lsh)
      .select(col("doc_id"), col("band"), col("bucket"), col("bmod")))
    assert(raw.size < want.size, "expected the raw read to be short mid-swap")
    // the manifest-routed probe sees the COMPLETE post-fold snapshot
    assert(rows(DocIndexIngest.readLsh(spark, root, "doc_id")) === want)

    // promote landed but _VIEW still names the tmp path (the instant
    // before finish deletes it): readStore's fallback resolves the run
    // at its primary home. Protocol order honored — rotate completes
    // before the promote
    Seq(1, 2).foreach(k => Files.move(
      java.nio.file.Paths.get(s"$lsh/batch_id=$k"),
      java.nio.file.Paths.get(s"$lsh.bak/batch_id=$k")))
    Files.move(java.nio.file.Paths.get(s"$lsh.tmp/batch_id=-1"),
      java.nio.file.Paths.get(s"$lsh/batch_id=-1"))
    assert(rows(DocIndexIngest.readLsh(spark, root, "doc_id")) === want)

    // finish() resumes (staged already home), closes the window
    StoreCompaction.finish(spark, lsh)
    assert(!new java.io.File(s"$lsh/_VIEW").exists(), "_VIEW outlived the fold")
    assert(!new java.io.File(s"$lsh.tmp").exists())
    assert(!new java.io.File(s"$lsh.bak").exists())
    assert(batchDirs(lsh) === Seq("batch_id=-1"))
    assert(rows(DocIndexIngest.readLsh(spark, root, "doc_id")) === want)
  }

  test("compact is a no-op below two batch partitions; refold includes the old base") {
    val root = tmp("graft-cmpn")
    ingest3(root)
    val lsh = DocIndexIngest.lshDir(root)
    assert(StoreCompaction.compact(spark, lsh, Seq("bmod"), 2L).size === 3)
    // already folded: single base partition -> nothing to do
    assert(StoreCompaction.compact(spark, lsh, Seq("bmod"), 2L).isEmpty)
    // a later batch lands, refold picks up base + new batch
    DocIndexIngest.processBatch(spark, docs.filter(col("doc_id") % 10 === 0),
      root, "text", "doc_id", 3L, cfg)
    val folded = StoreCompaction.compact(spark, lsh, Seq("bmod"), 3L)
    assert(folded === Seq(-1L, 3L))
    assert(batchDirs(lsh) === Seq("batch_id=-1"))
  }

  test("tier folds cover only their range; a full refold absorbs the tiers") {
    // the O(tier) cadence form: each fold rewrites ONLY the real-epoch
    // partitions in (fromExclusive, upToBatch] into a fresh negative-id
    // run — prior tiers and the -1 base stay untouched (readers union
    // all partitions, so content never changes)
    val root = tmp("graft-cmptier")
    ingest3(root) // batches 0, 1, 2
    val lsh = DocIndexIngest.lshDir(root)
    val want = rows(DocIndexIngest.readLsh(spark, root, "doc_id"))

    // tier 1: (-1, 1] -> batch_id=-3; batch 2 untouched
    assert(StoreCompaction.compact(spark, lsh, Seq("bmod"), upToBatch = 1L,
      fromExclusive = -1L) === Seq(0L, 1L))
    assert(batchDirs(lsh).toSet === Set("batch_id=-3", "batch_id=2"))
    assert(rows(DocIndexIngest.readLsh(spark, root, "doc_id")) === want)

    // batch 3 lands; tier 2 in the CADENCE shape — fromExclusive = -1
    // ("everything live since the last fold"): batches 0..1 left the
    // live set when tier -3 landed, so the range picks up exactly {2,3}
    // (this is also why a window that held <2 partitions for some store
    // is caught by the NEXT cadence rather than skipped forever), its
    // cost bound by those two batches, the -3 tier not in range
    DocIndexIngest.processBatch(spark, docs.filter(col("doc_id") % 10 === 0),
      root, "text", "doc_id", 3L, cfg)
    val want2 = rows(DocIndexIngest.readLsh(spark, root, "doc_id"))
    assert(StoreCompaction.compact(spark, lsh, Seq("bmod"), upToBatch = 3L,
      fromExclusive = -1L) === Seq(2L, 3L))
    assert(batchDirs(lsh).toSet === Set("batch_id=-3", "batch_id=-5"))
    assert(rows(DocIndexIngest.readLsh(spark, root, "doc_id")) === want2)

    // replayed cadence re-runs the same fold over an emptied range: no-op
    assert(StoreCompaction.compact(spark, lsh, Seq("bmod"), upToBatch = 3L,
      fromExclusive = -1L).isEmpty)

    // the maintenance-window full refold absorbs both tiers into the base
    assert(StoreCompaction.compact(spark, lsh, Seq("bmod"), upToBatch = 3L)
      === Seq(-5L, -3L))
    assert(batchDirs(lsh) === Seq("batch_id=-1"))
    assert(rows(DocIndexIngest.readLsh(spark, root, "doc_id")) === want2)

    // a tier range reaching below the base would re-fold other tiers —
    // refused loudly (that is the full fold's job)
    val e = intercept[IllegalArgumentException] {
      StoreCompaction.compact(spark, lsh, Seq("bmod"), upToBatch = 3L,
        fromExclusive = -2L)
    }
    assert(e.getMessage.contains("real epochs"))
  }

  test("family-loop compactEvery cadence: tiered layout, store content identical to an uncadenced ingest") {
    // the standalone DocIndexIngest.run loop carries the same in-loop
    // maintenance knob as the unified loop (all five run() loops share
    // IngestStages.loop's fold cadence); pin one family end-to-end
    // through the real stream
    val root = tmp("graft-cadroot")
    val inDir = tmp("graft-cadin")
    val cp = tmp("graft-cadcp")
    val t0 = System.currentTimeMillis() - 60000
    (0 until 3).foreach { i =>
      val stage = tmp(s"graft-cadstage$i")
      docs.filter(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      val dst = java.nio.file.Paths.get(inDir, s"f$i.parquet")
      Files.move(part, dst)
      dst.toFile.setLastModified(t0 + i * 10000L); ()
    }
    DocIndexIngest.run(spark, inDir, root, docs.schema, "text", "doc_id",
      cp, cfg, maxFilesPerTrigger = 1, compactEvery = Some(2))
      .awaitTermination()
    // the epoch-2 trigger folded live epochs {0,1} -> tier -3
    assert(batchDirs(DocIndexIngest.lshDir(root)).toSet ===
      Set("batch_id=-3", "batch_id=2"))
    // content ≡ the same batches through bare processBatch, no cadence
    val twin = tmp("graft-cadtwin")
    ingest3(twin)
    assert(rows(DocIndexIngest.readLsh(spark, root, "doc_id")) ===
      rows(DocIndexIngest.readLsh(spark, twin, "doc_id")))
    assert(rows(DocIndexIngest.readCorpus(spark, root, docs)) ===
      rows(DocIndexIngest.readCorpus(spark, twin, docs)))
  }

  test("tier crash: a committed tier stage heals forward to its own tier id") {
    val root = tmp("graft-cmptc")
    ingest3(root)
    val lsh = DocIndexIngest.lshDir(root)
    val want = rows(DocIndexIngest.readLsh(spark, root, "doc_id"))
    // crash between stage and swap: marker carries base=-3, heal must
    // promote to batch_id=-3 (a legacy -1 promote would collide with a
    // real base on a store that has one)
    StoreCompaction.stage(spark, lsh, Seq("bmod"), upToBatch = 1L,
      fromExclusive = -1L)
    assert(new java.io.File(s"$lsh.tmp/_COMMIT").exists())
    assert(rows(DocIndexIngest.readLsh(spark, root, "doc_id")) === want)
    StoreCompaction.heal(spark, lsh)
    assert(batchDirs(lsh).toSet === Set("batch_id=-3", "batch_id=2"),
      "heal did not roll the tier forward")
    assert(rows(DocIndexIngest.readLsh(spark, root, "doc_id")) === want)
    assert(!new java.io.File(s"$lsh.tmp").exists())
    assert(!new java.io.File(s"$lsh.bak").exists())
  }

  test("multi-assigned (margin eps) replication survives compaction row-for-row") {
    // the r9 IVF recall fix stores one row per (vector, cell) with
    // boundary vectors assigned to BOTH neighboring cells (assignCellsMulti,
    // eps margin). Compaction folds batch partitions per cell — it must
    // carry each replica through, because collapsing them (e.g. an
    // accidental dropDuplicates on vec_id) would silently undo the recall
    // fix for every compacted store while leaving fresh stores correct.
    val root = tmp("graft-cmpm")
    val emb = Fixture(spark, sfDir).embeddings
    (0 until 2).foreach { i =>
      EmbIndexIngest.processBatch(spark, emb.filter(col("vec_id") % 2 === i),
        root, "vec_id", "embedding", i.toLong,
        EmbIndexIngest.Config(nlist = 4, multiEps = 0.3))
    }
    val st = EmbIndexIngest.readVectors(spark, root)
    val nRows = st.count()
    val nVecs = st.select("vec_id").distinct().count()
    assert(nRows > nVecs,
      s"eps=0.3 over the fixture must replicate some vectors ($nRows rows, $nVecs vectors)")
    val before = rows(st.select("vec_id", "cell"))

    EmbIndexIngest.compactStore(spark, root, upToBatch = 1L)

    val after = EmbIndexIngest.readVectors(spark, root)
    assert(after.count() === nRows,
      s"compaction changed the row count: $nRows -> ${after.count()} (replicas collapsed?)")
    assert(rows(after.select("vec_id", "cell")) === before)
    val e = EmbIndexIngest.currentEpoch(spark, root).get
    assert(batchDirs(EmbIndexIngest.vectorsDir(root, e)) === Seq("batch_id=-1"))
  }

  test("text-model store crash protocol: committed stage rolls forward, uncommitted rolls back, next batch self-heals") {
    // the dsir/tagger/lm count stores are batch_id-partitioned like every
    // other store — their compaction must carry the same crash contract
    // (TextModelIngestSpec pins fold ≡ probe; this pins the heal halves)
    import graft.streaming.TextModelIngest
    val root = tmp("graft-cmpt")
    (0 until 3).foreach { i =>
      TextModelIngest.processBatch(spark,
        docs.filter(col("doc_id") % 3 === i), root,
        "text", "doc_id", col("lang") === "en", "lang", i.toLong)
    }
    val dsir = TextModelIngest.dsirDir(root)
    def probe() = TextModelIngest
      .dsirProbe(spark, root, docs, "text", "doc_id")
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val want = probe()

    // crash point A: stage committed (tmp + _COMMIT), swap never started —
    // heal must roll FORWARD to the folded base
    StoreCompaction.stage(spark, dsir, Seq.empty, upToBatch = 2L)
    assert(new java.io.File(s"$dsir.tmp/_COMMIT").exists())
    assert(probe() === want, "staged-but-unswapped store must read unchanged")
    StoreCompaction.heal(spark, dsir)
    assert(batchDirs(dsir) === Seq("batch_id=-1"), "heal did not roll forward")
    assert(probe() === want)
    assert(!new java.io.File(s"$dsir.tmp").exists())
    assert(!new java.io.File(s"$dsir.bak").exists())

    // crash point B: stage died before _COMMIT — the NEXT processBatch's
    // heal-on-ingest must roll it back and the batch must land normally
    val junk = new java.io.File(s"$dsir.tmp/batch_id=-1")
    junk.mkdirs()
    Files.write(junk.toPath.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    TextModelIngest.processBatch(spark,
      docs.filter(col("doc_id") % 10 === 0), root,
      "text", "doc_id", col("lang") === "en", "lang", 3L)
    assert(!new java.io.File(s"$dsir.tmp").exists(), "uncommitted tmp not dropped")
    // all four stores stay mutually consistent: the 4-batch store probes
    // like a from-scratch 1-batch ingest of the same union
    val root2 = tmp("graft-cmpt2")
    TextModelIngest.processBatch(spark,
      docs.unionByName(docs.filter(col("doc_id") % 10 === 0)), root2,
      "text", "doc_id", col("lang") === "en", "lang", 0L)
    val got = probe()
    val want2 = TextModelIngest
      .dsirProbe(spark, root2, docs, "text", "doc_id")
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(got === want2,
      "healed + appended store diverged from a from-scratch ingest of the same rows")
  }

  test("protocol property: random ingest/tier/full/crash/heal sequences preserve content") {
    // the targeted crash tests pin specific interleavings; this walks the
    // protocol's whole state space — any sequence of appends, tier folds,
    // full refolds and both crash classes must leave the store reading
    // exactly the union of appended rows (folds rewrite layout, never
    // content; heal always lands in a consistent state)
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 0 until 3) {
      val dir = tmp(s"graft-cmprop$trial") + "/store"
      var nextEpoch = 0L
      val model = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      def ingest(): Unit = {
        val batch = (0 until 5).map(i => (nextEpoch * 10 + i, rnd.nextLong()))
        batch.toDF("id", "v").withColumn("batch_id", lit(nextEpoch))
          .write.mode("append").partitionBy("batch_id").parquet(dir)
        model ++= batch
        nextEpoch += 1
      }
      def content(): Map[(Long, Long), Int] =
        spark.read.parquet(dir).select("id", "v").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(identity).map { case (k, v) => (k, v.length) }
      ingest() // a store always exists before the first maintenance op
      val opCount = 14
      (0 until opCount).foreach { _ =>
        rnd.nextInt(8) match {
          case 0 | 1 | 2 =>
            ingest()
          case 3 | 4 => // tier fold of every live real epoch
            StoreCompaction.compact(spark, dir, Seq.empty,
              upToBatch = nextEpoch - 1, fromExclusive = -1L)
          case 5 => // full refold (absorbs tiers + base)
            StoreCompaction.compact(spark, dir, Seq.empty,
              upToBatch = nextEpoch - 1)
          case 6 => // crash class A: committed stage, death before swap
            StoreCompaction.stage(spark, dir, Seq.empty,
              upToBatch = nextEpoch - 1, fromExclusive = -1L)
            StoreCompaction.heal(spark, dir) // next toucher rolls forward
          case 7 => // crash class B: stage died before its marker
            val junk = new java.io.File(s"$dir.tmp/batch_id=-999")
            junk.mkdirs()
            Files.write(junk.toPath.resolve("part-junk.parquet"),
              Array[Byte](9, 9, 9))
            StoreCompaction.heal(spark, dir) // rolls back
        }
        assert(content() === model.groupBy(identity)
            .map { case (k, v) => (k, v.length) },
          s"trial $trial diverged after an op (epochs so far: $nextEpoch)")
        assert(!new java.io.File(s"$dir.bak").exists(),
          s"trial $trial left .bak residue")
      }
    }
  }

  test("embedding store compaction preserves vectors and the probe's answer") {
    val root = tmp("graft-cmpe")
    val emb = Fixture(spark, sfDir).embeddings
    (0 until 3).foreach { i =>
      EmbIndexIngest.processBatch(spark, emb.filter(col("vec_id") % 3 === i),
        root, "vec_id", "embedding", i.toLong,
        EmbIndexIngest.Config(nlist = 4))
    }
    val before = rows(EmbIndexIngest.readVectors(spark, root)
      .select("vec_id", "cell"))
    val cents = EmbIndexIngest.readCentroids(spark, root)
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    def probe() = rows(graft.operators.Similarity.annIvfProbe(
      EmbIndexIngest.readVectors(spark, root), cents, q,
      "vec_id", "embedding", excludeId = 0L, k = 5, nprobe = 2)
      .select("vec_id"))
    val ansBefore = probe()
    // the incremental SemDeDup probe reads the same store — its pairs
    // must survive the fold too
    val maxId = emb.agg(org.apache.spark.sql.functions.max(col("vec_id")))
      .head().getLong(0)
    val batch = emb.filter(col("vec_id") < 5L)
      .select((col("vec_id") + maxId + 1L).as("vec_id"), col("embedding"))
    def sdProbe() = rows(EmbIndexIngest.semanticDedupProbe(
      spark, root, batch, "vec_id", "embedding", minCosine = 0.25))
    val sdBefore = sdProbe()

    EmbIndexIngest.compactStore(spark, root, upToBatch = 2L)

    assert(rows(EmbIndexIngest.readVectors(spark, root)
      .select("vec_id", "cell")) === before)
    assert(probe() === ansBefore)
    assert(sdProbe() === sdBefore,
      "semanticDedupProbe must answer identically over the folded store")
    val e = EmbIndexIngest.currentEpoch(spark, root).get
    assert(batchDirs(EmbIndexIngest.vectorsDir(root, e)) === Seq("batch_id=-1"))
  }
}

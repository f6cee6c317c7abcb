package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{CacheStats, IndexStore, TextQueries, VectorQueries}

/** Cross-session index persistence (VERDICT r10 #7): with an index root
  * configured, the maintained shared indexes write fingerprinted
  * parquet on first build and every LATER SparkSession reloads them —
  * build counter untouched, identical rows. A changed source file
  * (different mtime → different fingerprint) or a torn multi-piece
  * write (missing _SUCCESS) rebuilds instead of serving stale state.
  * With no root configured (the Bench/Verify default) behavior is the
  * pre-r11 session-scoped cache — BuildCacheSpec/CacheSoakSpec still
  * pin that path. */
class CrossSessionIndexSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark
  private val sf = GraftSpark.sf

  private def sessionWithRoot(dir: String) = {
    val s = spark.newSession()
    s.conf.set("spark.graft.index.dir", dir)
    s
  }

  test("second session reloads the postings index: zero new builds, identical rows") {
    val dir = Files.createTempDirectory("graft_idx").toString
    val b0 = CacheStats.buildCount("postings")
    val r0 = CacheStats.reloadCount("postings")
    val s1 = sessionWithRoot(dir)
    val rows1 = TextQueries.postingsShared(s1, sf)
      .orderBy("doc_id", "gh").collect().toSeq
    assert(CacheStats.buildCount("postings") === b0 + 1, "first session builds")
    val s2 = sessionWithRoot(dir)
    val rows2 = TextQueries.postingsShared(s2, sf)
      .orderBy("doc_id", "gh").collect().toSeq
    assert(CacheStats.buildCount("postings") === b0 + 1,
      "second session must RELOAD, not rebuild")
    assert(CacheStats.reloadCount("postings") === r0 + 1)
    assert(rows1 === rows2)
  }

  test("multi-piece index (k-means run) reloads atomically; torn write rebuilds") {
    val dir = Files.createTempDirectory("graft_idx").toString
    val b0 = CacheStats.buildCount("km_run")
    val s1 = sessionWithRoot(dir)
    val cent1 = VectorQueries.queries("q_semantic_dedup")(s1, sf).collect().toSeq
    assert(CacheStats.buildCount("km_run") === b0 + 1)
    val s2 = sessionWithRoot(dir)
    val cent2 = VectorQueries.queries("q_semantic_dedup")(s2, sf).collect().toSeq
    assert(CacheStats.buildCount("km_run") === b0 + 1, "reload, not rebuild")
    assert(cent1 === cent2)
    // torn write: one piece loses its _SUCCESS → the whole index rebuilds
    val torn = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("km_centroids_")).head
    assert(new java.io.File(torn, "_SUCCESS").delete())
    val s3 = sessionWithRoot(dir)
    val cent3 = VectorQueries.queries("q_semantic_dedup")(s3, sf).collect().toSeq
    assert(CacheStats.buildCount("km_run") === b0 + 2, "torn index must rebuild")
    assert(cent1 === cent3)
  }

  test("source fingerprint change invalidates: touched file rebuilds") {
    val dataDir = Files.createTempDirectory("graft_idx_data").toString
    val src = Paths.get(sf, "documents.parquet")
    val dst = Paths.get(dataDir, "documents.parquet")
    Files.copy(src, dst)
    val idxDir = Files.createTempDirectory("graft_idx").toString
    val b0 = CacheStats.buildCount("postings")
    val s1 = sessionWithRoot(idxDir)
    val rows1 = TextQueries.postingsShared(s1, dataDir)
      .orderBy("doc_id", "gh").collect().toSeq
    assert(CacheStats.buildCount("postings") === b0 + 1)
    // same bytes, new mtime → new fingerprint → rebuild (the
    // regenerated-testdata scenario; content is unchanged so rows match)
    Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() + 10000))
    val s2 = sessionWithRoot(idxDir)
    val rows2 = TextQueries.postingsShared(s2, dataDir)
      .orderBy("doc_id", "gh").collect().toSeq
    assert(CacheStats.buildCount("postings") === b0 + 2,
      "touched source must rebuild, never serve the stale index")
    assert(rows1 === rows2)
  }

  test("partition-dir rename invalidates: fingerprint keys root-relative paths") {
    // ADVICE r12 (medium): the recursive fingerprint keyed leaf
    // BASENAMES only, so renaming/moving a partition directory (or
    // swapping same-named part files between partitions) changed the
    // data Spark reads while leaving the key unchanged — a stale
    // persisted index silently served, the exact failure the recursive
    // enumeration exists to prevent. Leaf paths are now table-root-
    // relative: the rename moves the same leaf (identical name, length,
    // mtime — Files.move keeps the inode) under a new subpath and MUST
    // rebuild.
    val dataDir = Files.createTempDirectory("graft_idx_part").toString
    val part1 = Paths.get(dataDir, "documents.parquet", "date=1")
    Files.createDirectories(part1)
    Files.copy(Paths.get(sf, "documents.parquet"), part1.resolve("data.parquet"))
    val idxDir = Files.createTempDirectory("graft_idx").toString
    val b0 = CacheStats.buildCount("postings")
    val s1 = sessionWithRoot(idxDir)
    val rows1 = TextQueries.postingsShared(s1, dataDir)
      .orderBy("doc_id", "gh").collect().toSeq
    assert(CacheStats.buildCount("postings") === b0 + 1)
    Files.move(part1, part1.resolveSibling("date=2"))
    val s2 = sessionWithRoot(idxDir)
    val rows2 = TextQueries.postingsShared(s2, dataDir)
      .orderBy("doc_id", "gh").collect().toSeq
    assert(CacheStats.buildCount("postings") === b0 + 2,
      "a moved partition dir must rebuild, never serve the stale index")
    assert(rows1 === rows2) // same leaf bytes → same postings
  }

  test("explicit file: URI root reloads through the Hadoop FileSystem API") {
    // the r11 regression (ADVICE r11 / VERDICT r11 #3): the _SUCCESS
    // probe used java.io.File, which cannot parse a filesystem URI —
    // on any non-local root (hdfs://, s3a://, or an explicit file:
    // URI) the probe was always false and every session silently
    // rebuilt. Driving the root through `file:` exercises the exact
    // Hadoop-API resolution path a remote deployment takes.
    val dir = "file:" + Files.createTempDirectory("graft_idx_uri").toString
    val b0 = CacheStats.buildCount("postings")
    val r0 = CacheStats.reloadCount("postings")
    val s1 = sessionWithRoot(dir)
    val rows1 = TextQueries.postingsShared(s1, sf)
      .orderBy("doc_id", "gh").collect().toSeq
    assert(CacheStats.buildCount("postings") === b0 + 1, "first session builds")
    val s2 = sessionWithRoot(dir)
    val rows2 = TextQueries.postingsShared(s2, sf)
      .orderBy("doc_id", "gh").collect().toSeq
    assert(CacheStats.buildCount("postings") === b0 + 1,
      "second session must RELOAD through the Hadoop FS path")
    assert(CacheStats.reloadCount("postings") === r0 + 1)
    assert(rows1 === rows2)
  }

  test("builder-version bump invalidates a persisted index; restoring it reloads") {
    // VERDICT r11 #3 second half: the fingerprint keyed only the
    // source DATA, so a cap/calibration code change between rounds
    // would serve a stale persisted index built by old logic. The
    // version tag is part of the path key: bumping it retires every
    // persisted index (rebuild), restoring it finds the original copy
    // again (reload).
    val dir = Files.createTempDirectory("graft_idx_ver").toString
    val b0 = CacheStats.buildCount("postings")
    val v0 = IndexStore.builderVersion
    try {
      val s1 = sessionWithRoot(dir)
      val rows1 = TextQueries.postingsShared(s1, sf)
        .orderBy("doc_id", "gh").collect().toSeq
      assert(CacheStats.buildCount("postings") === b0 + 1)
      IndexStore.builderVersion = v0 + ":recalibrated"
      val s2 = sessionWithRoot(dir)
      val rows2 = TextQueries.postingsShared(s2, sf)
        .orderBy("doc_id", "gh").collect().toSeq
      assert(CacheStats.buildCount("postings") === b0 + 2,
        "a builder-version change must rebuild, never serve stale logic")
      assert(rows1 === rows2)
      IndexStore.builderVersion = v0
      val s3 = sessionWithRoot(dir)
      s3.conf.set("spark.graft.index.dir", dir)
      TextQueries.postingsShared(s3, sf).count()
      assert(CacheStats.buildCount("postings") === b0 + 2,
        "restoring the version must reload the original persisted copy")
    } finally IndexStore.builderVersion = v0
  }

  test("cross-JVM race: rename-publish makes the first writer win, loser cleans up") {
    // VERDICT r12 #4: two JVMs can pass the _SUCCESS probe concurrently
    // and both build — parquet `overwrite` would let their committers
    // interleave inside ONE directory. publishAtomic writes to a unique
    // temp dir and renames into place: rename fails when the
    // destination exists, so the slower writer can never corrupt the
    // faster one's copy and must discard its temp.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_idx_race").toString
    val p = dir + "/piece_x"
    val winner = Seq((1L, "winner")).toDF("id", "who")
    val loser = Seq((2L, "loser")).toDF("id", "who")
    assert(IndexStore.publishAtomic(spark, winner, p), "first publish must win")
    assert(!IndexStore.publishAtomic(spark, loser, p), "second publish must lose")
    val onDisk = spark.read.parquet(p).collect()
    assert(onDisk.length === 1 && onDisk(0).getString(1) === "winner",
      "the loser must never touch the winner's copy")
    assert(new java.io.File(dir).listFiles().map(_.getName).toSeq === Seq("piece_x"),
      "the loser must delete its temp dir")
  }

  test("a JVM that finds a complete copy published mid-build serves it, not a mix") {
    // the onBuilt seam simulates the other JVM finishing FIRST inside
    // the build window (post-probe, pre-publish): this session must
    // detect the complete copy, keep it (the fingerprinted path keys
    // its content), and serve it — later sessions reload the same copy.
    import spark.implicits._
    val idxDir = Files.createTempDirectory("graft_idx_race2").toString
    val s1 = sessionWithRoot(idxDir)
    val sentinel = Seq((99L, "other_jvm")).toDF("id", "who")
    val served = IndexStore.persistedMulti(s1, sf, Seq("race_probe"),
      Seq("documents.parquet"),
      onBuilt = () => {
        // "the other JVM" publishes a complete piece at the same path
        val p = new java.io.File(idxDir).listFiles()
        assert(p == null || p.isEmpty)
        assert(IndexStore.publishAtomic(s1, sentinel,
          idxDir + "/" + raceLeafName(s1)))
      })(Seq(Seq((1L, "this_jvm")).toDF("id", "who")))
    assert(served.head.collect().map(_.getString(1)).toSeq === Seq("other_jvm"),
      "a complete mid-build copy must be served, never overwritten")
    val s2 = sessionWithRoot(idxDir)
    val reloaded = IndexStore.persistedMulti(s2, sf, Seq("race_probe"),
      Seq("documents.parquet"))(
      Seq(Seq((1L, "this_jvm")).toDF("id", "who")))
    assert(reloaded.head.collect().map(_.getString(1)).toSeq === Seq("other_jvm"))
  }

  // The fingerprinted leaf dir name persistedMulti will use for the
  // race_probe label (indexPath is private): the leaf name depends only
  // on (dataset, label, sources, builderVersion) — not on the root — so
  // publish once into a scratch root and read the created dir's name.
  private def raceLeafName(s: org.apache.spark.sql.SparkSession): String = {
    import s.implicits._
    val scratch = Files.createTempDirectory("graft_idx_scratch").toString
    val sx = s.newSession()
    sx.conf.set("spark.graft.index.dir", scratch)
    sx.conf.set("spark.graft.index.renameAtomic", "true")
    IndexStore.persistedMulti(sx, sf, Seq("race_probe"),
      Seq("documents.parquet"))(Seq(Seq((0L, "probe")).toDF("id", "who")))
    // the fingerprinted LEAF name is mode-independent; in atomic mode
    // the scratch root holds exactly the one leaf dir
    new java.io.File(scratch).listFiles().map(_.getName)
      .filter(_.startsWith("race_probe_")).head
  }

  test("non-atomic rename (object-store mode): lease publish, reload, racing loser") {
    // VERDICT r13 #6: on s3a/gs rename is a non-atomic copy, so publish
    // routes through the lease file — data in a unique .data-<id> dir
    // that never moves, the one-line lease as the only shared object.
    // Simulated on the local FS via spark.graft.index.renameAtomic=false.
    import spark.implicits._
    val idxDir = Files.createTempDirectory("graft_idx_lease").toString
    def leaseSession() = {
      val s = sessionWithRoot(idxDir)
      s.conf.set("spark.graft.index.renameAtomic", "false")
      s
    }
    val b0 = CacheStats.buildCount("postings")
    val s1 = leaseSession()
    val rows1 = TextQueries.postingsShared(s1, sf)
      .orderBy("doc_id", "gh").collect().toSeq
    assert(CacheStats.buildCount("postings") === b0 + 1, "first session builds")
    val names = new java.io.File(idxDir).listFiles().map(_.getName).toSeq
    assert(names.exists(_.endsWith(".lease")) &&
      names.exists(_.contains(".data-")),
      s"lease publish must write <leaf>.lease + <leaf>.data-<id>: $names")
    assert(!names.exists(n => n.startsWith("postings_") && !n.contains(".")),
      s"the direct (rename-target) path must never be written in lease mode: $names")
    val s2 = leaseSession()
    val rows2 = TextQueries.postingsShared(s2, sf)
      .orderBy("doc_id", "gh").collect().toSeq
    assert(CacheStats.buildCount("postings") === b0 + 1,
      "second session must reload through the lease pointer")
    assert(rows1 === rows2)
    // direct two-writer race on one piece path: first lease wins,
    // second loses BEFORE paying a data copy and leaves no orphan
    val p = idxDir + "/piece_y"
    val winner = Seq((1L, "winner")).toDF("id", "who")
    val loser = Seq((2L, "loser")).toDF("id", "who")
    assert(IndexStore.publishLease(s1, winner, p), "first lease publish must win")
    assert(!IndexStore.publishLease(s1, loser, p), "second lease publish must lose")
    val resolved = IndexStore.resolvePublished(s1, p)
    assert(resolved.isDefined, "the winner's copy must resolve")
    val onDisk = s1.read.parquet(resolved.get.toString).collect()
    assert(onDisk.length === 1 && onDisk(0).getString(1) === "winner")
    val pieceDirs = new java.io.File(idxDir).listFiles()
      .map(_.getName).filter(_.startsWith("piece_y")).toSeq.sorted
    assert(pieceDirs.count(_.contains(".data-")) === 1,
      s"the loser must not leave a data dir (it lost pre-copy): $pieceDirs")
  }

  test("stale lease takeover: a crashed builder's lease is reclaimed, a live one is not") {
    import spark.implicits._
    val idxDir = Files.createTempDirectory("graft_idx_lease2").toString
    val s = sessionWithRoot(idxDir)
    s.conf.set("spark.graft.index.renameAtomic", "false")
    val df = Seq((1L, "recovered")).toDF("id", "who")
    def writeLease(p: String, id: String, ts: Long): Unit = {
      val w = new java.io.FileWriter(p + ".lease")
      try w.write(s"$id $ts") finally w.close()
    }
    // a FRESH lease whose data dir never completed (builder mid-copy or
    // just crashed): must NOT be taken over — blocks this writer
    val pLive = idxDir + "/piece_live"
    writeLease(pLive, "someone-else", System.currentTimeMillis)
    assert(!IndexStore.publishLease(s, df, pLive),
      "a fresh incomplete lease must block takeover")
    assert(IndexStore.resolvePublished(s, pLive).isEmpty)
    // the SAME lease aged past LeaseStaleMs: abandoned — taken over,
    // published, resolvable
    val pStale = idxDir + "/piece_stale"
    writeLease(pStale, "crashed-builder",
      System.currentTimeMillis - IndexStore.LeaseStaleMs - 1000)
    assert(IndexStore.publishLease(s, df, pStale),
      "a stale incomplete lease must be reclaimed")
    val got = s.read.parquet(IndexStore.resolvePublished(s, pStale).get.toString)
      .collect()
    assert(got.length === 1 && got(0).getString(1) === "recovered")
    // a stale lease whose data IS complete is a valid publish, not
    // abandonment: never taken over, resolution serves it
    assert(!IndexStore.publishLease(s, Seq((3L, "usurper")).toDF("id", "who"),
      pStale), "a complete publish must never be usurped, however old")
  }

  test("lease mode: a complete copy published mid-build is served, not overwritten") {
    // the onBuilt seam on the NON-ATOMIC path: the other JVM completes
    // a lease publish inside our build window; this session must detect
    // it at publish time, keep it, and serve it — the publishAtomic
    // race2 contract carried to object-store mode
    import spark.implicits._
    val idxDir = Files.createTempDirectory("graft_idx_lease3").toString
    val s1 = sessionWithRoot(idxDir)
    s1.conf.set("spark.graft.index.renameAtomic", "false")
    val sentinel = Seq((99L, "other_jvm")).toDF("id", "who")
    val served = IndexStore.persistedMulti(s1, sf, Seq("race_probe"),
      Seq("documents.parquet"),
      onBuilt = () => {
        assert(IndexStore.publishLease(s1, sentinel,
          idxDir + "/" + raceLeafName(s1)))
      })(Seq(Seq((1L, "this_jvm")).toDF("id", "who")))
    assert(served.head.collect().map(_.getString(1)).toSeq === Seq("other_jvm"),
      "a complete mid-build lease publish must be served, never replaced")
    val s2 = sessionWithRoot(idxDir)
    s2.conf.set("spark.graft.index.renameAtomic", "false")
    val reloaded = IndexStore.persistedMulti(s2, sf, Seq("race_probe"),
      Seq("documents.parquet"))(
      Seq(Seq((1L, "this_jvm")).toDF("id", "who")))
    assert(reloaded.head.collect().map(_.getString(1)).toSeq === Seq("other_jvm"))
  }

  test("no index root configured → session-scoped behavior, nothing written") {
    val s = spark.newSession() // no spark.graft.index.dir
    val before = CacheStats.buildCount("jaccard_pairs")
    TextQueries.jaccardPairsShared(s, sf).count()
    assert(CacheStats.buildCount("jaccard_pairs") === before + 1)
    // second call on the SAME session: the in-session cache serves it
    TextQueries.jaccardPairsShared(s, sf).count()
    assert(CacheStats.buildCount("jaccard_pairs") === before + 1)
  }

  test("trained PQ codebook persists: second session reloads, zero retraining") {
    // VERDICT r15 #5 — train-once-serve-many: the k=256 codebook
    // (q_knn_pq8's quantizer) must write fingerprinted parquet on
    // first build and RELOAD in a later session, identical probe rows.
    val dir = Files.createTempDirectory("graft_idx_cb").toString
    val label = "pq_cb256_s1_p"
    val b0 = CacheStats.buildCount(label)
    val r0 = CacheStats.reloadCount(label)
    val s1 = sessionWithRoot(dir)
    val rows1 = VectorQueries.pq8Top10(s1, sf, planted = true)
      .orderBy("vec_id").collect().toSeq
    assert(CacheStats.buildCount(label) === b0 + 1, "first session trains")
    val s2 = sessionWithRoot(dir)
    val rows2 = VectorQueries.pq8Top10(s2, sf, planted = true)
      .orderBy("vec_id").collect().toSeq
    assert(CacheStats.buildCount(label) === b0 + 1,
      "second session must reload the trained codebook, not retrain")
    assert(CacheStats.reloadCount(label) === r0 + 1)
    assert(rows1 === rows2)
  }

  test("corpus fingerprint change invalidates a persisted codebook") {
    // a regenerated embeddings table (same bytes, new mtime → new
    // fingerprint) must retrain rather than serve the stale quantizer
    val dataDir = Files.createTempDirectory("graft_idx_cb_data").toString
    Files.copy(Paths.get(sf, "embeddings.parquet"),
      Paths.get(dataDir, "embeddings.parquet"))
    val idxDir = Files.createTempDirectory("graft_idx_cb2").toString
    val label = "pq_cb256_s1_p"
    val b0 = CacheStats.buildCount(label)
    val s1 = sessionWithRoot(idxDir)
    val rows1 = VectorQueries.pq8Top10(s1, dataDir, planted = true)
      .orderBy("vec_id").collect().toSeq
    assert(CacheStats.buildCount(label) === b0 + 1)
    Files.setLastModifiedTime(Paths.get(dataDir, "embeddings.parquet"),
      java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() + 10000))
    val s2 = sessionWithRoot(idxDir)
    val rows2 = VectorQueries.pq8Top10(s2, dataDir, planted = true)
      .orderBy("vec_id").collect().toSeq
    assert(CacheStats.buildCount(label) === b0 + 2,
      "a touched corpus must retrain, never serve the stale codebook")
    assert(rows1 === rows2) // same bytes → same trained codebook
  }
}

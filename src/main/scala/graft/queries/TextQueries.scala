package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions._

/**
 * North-star text/dedup operators over `documents` (SURVEY.md §2j) —
 * what a large-scale training-data pipeline runs: exact + near dedup,
 * language ID, quality scoring, token stats, fingerprinting.
 *
 * Every operator is shuffle-parallel (groupBy/join on content keys;
 * LSH banding replaces all-pairs comparison), so the same plan holds at
 * 100 TB: no driver-side state, no O(n²) stage.
 */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  // tiny per-language stopword lists for the pure-SQL language-ID
  // heuristic (expressible identically in Spark and DuckDB)
  private[queries] val enStops = Seq("the", "a", "of", "and", "to", "in", "is")

  /**
   * Deterministic planted duplicate batches (VERDICT r7 #2). The
   * synthetic corpus has no byte-identical texts and no
   * normalization-equal token sequences at the sf0.01 gate scale, so
   * q_dedup_canonical and q_doc_fingerprint returned 0 rows there — a
   * green gate that could never fire. Each query unions these literal
   * rows into its scan (and the SAME literals, via [[plantedValuesSql]],
   * into its DuckDB oracle), so the gate compares real nonzero output.
   * The ids sit far above any real doc_id (max ≈ 6e4 at sf0.1) and the
   * texts share no 3-gram with the corpus, so no other gram/dedup query
   * is perturbed — only the two queries that opt in read them.
   */
  private[graft] val plantedDupDocs: Seq[(Long, String)] = Seq(
    (9000001L, "planted duplicate corpus row alpha"),
    (9000002L, "planted duplicate corpus row alpha"),
    (9000003L, "planted duplicate corpus row beta"),
    (9000004L, "planted duplicate corpus row beta"),
    (9000005L, "planted duplicate corpus row beta"))

  /** Planted DRIFT CHAIN for the BFS gate (q_bfs_distance): 8 sliding
    * 60-token windows over a synthetic token stream, stepping 4 tokens.
    * Each window holds 58 distinct 3-grams; consecutive docs share 54
    * (union 62, J = 54/62 = 0.871 ≥ 0.8 — an edge), two apart share 50
    * (union 66, J = 50/66 = 0.758 < 0.8 — no edge), so
    * the planted subgraph is a pure 7-hop PATH: the organic corpus graph
    * has diameter ≤1 at gate scales, which left the BFS near-vacuous.
    * Negative ids make the chain head the global min node (the
    * deterministic seed) and the `qchainz` token prefix keeps the chain
    * gram-disjoint from the corpus — the brute-force oracle would
    * hash-fail if that assumption ever broke. */
  private[graft] val plantedChainDocs: Seq[(Long, String)] =
    (0 until 8).map { k =>
      (-108L + k, (4 * k until 4 * k + 60).map(i => s"qchainz$i").mkString(" "))
    }

  /** Differ in case and run-of-spaces only → same normalized token
    * sequence, so they fingerprint-collide by design (and only with
    * each other). */
  private[graft] val plantedFpDocs: Seq[(Long, String)] = Seq(
    (9100001L, "Planted  Fingerprint GAMMA delta"),
    (9100002L, "planted fingerprint gamma  delta"))

  /** Planted boilerplate batch for q_line_dedup: 4 docs share one
    * 10-word "line" (the C4 cookie-banner case — crosses the ≥3-doc
    * removal threshold), 2 docs share another (stays below it, the
    * negative control). Each doc is prefix-chunk + shared-chunk +
    * suffix-chunk with the shared chunk aligned on the 10-word chunk
    * boundary; every prefix/suffix word is unique to its doc and
    * carries the `qlinez` marker, so no organic chunk is perturbed. */
  private[graft] val plantedLineDocs: Seq[(Long, String)] = {
    def tenWords(tag: String): String =
      (0 until 10).map(i => s"qlinez$tag$i").mkString(" ")
    val boiler = tenWords("boil")
    val duo = tenWords("duo")
    (0 until 4).map { k =>
      (9200001L + k, s"${tenWords(s"pre${k}x")} $boiler ${tenWords(s"suf${k}x")}")
    } ++ (0 until 2).map { k =>
      (9200011L + k, s"${tenWords(s"dpre${k}x")} $duo ${tenWords(s"dsuf${k}x")}")
    }
  }

  /** The planted rows as a DuckDB VALUES relation — generated from the
    * same Seq the Spark plan unions, so the two sides cannot drift. */
  private[queries] def plantedValuesSql(rows: Seq[(Long, String)]): String =
    rows.map { case (id, t) => s"(${id}::BIGINT, '$t')" }
      .mkString("SELECT * FROM (VALUES ", ", ", ") t(doc_id, text)")

  /**
   * (doc_id, gh) postings where gh = 64-bit hash of each word 3-gram,
   * built SHUFFLE-FREE by zipping three shifted slices of the token
   * array and exploding — all codegen'd (arrays_zip/slice/xxhash64), no
   * interpreted HOF, no string re-allocation, and crucially no
   * Window.partitionBy(doc_id) shuffle+sort (the previous lead-over-
   * posexplode formulation paid one per consumer; gram construction is
   * embarrassingly parallel and now stays inside the scan stage — the
   * property that matters at 100 TB). Hashes are unchanged:
   * xxhash64(t_i, t_i+1, t_i+2). Docs shorter than one shingle window
   * collapse to a single whole-doc gram. May contain duplicate grams per
   * doc (callers distinct() when they need sets).
   */
  private[graft] def gramHashPostings(docs: org.apache.spark.sql.DataFrame) = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
    val n = size(col("tk"))
    val g3 = base.filter(n >= 3)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("tk"), lit(1), n - 2).as("t0"),
        slice(col("tk"), lit(2), n - 2).as("t1"),
        slice(col("tk"), lit(3), n - 2).as("t2"))).as("z"))
      .select(col("doc_id"),
        xxhash64(col("z.t0"), col("z.t1"), col("z.t2")).as("gh"))
    val gShort = base.filter(n < 3)
      .select(col("doc_id"), xxhash64(array_join(col("tk"), " ")).as("gh"))
    g3.union(gShort)
  }

  /** Distinct gram postings of the corpus (probe/tooling entry point). */
  private[graft] def postingsOf(s: SparkSession, d: String): DataFrame =
    gramHashPostings(Tables.documents(s, d)).distinct()

  /** The corpus's distinct gram postings, materialized ONCE per session —
    * the maintained inverted INDEX that every gram consumer reads: the
    * Jaccard pair graph, the contamination check, and incremental dedup
    * each previously rebuilt it from the raw text. The 100 TB analogue is
    * a storage-backed postings table maintained incrementally alongside
    * the corpus (exactly the artifact q_dedup_incremental's framing
    * assumes); locally it is one localCheckpoint (~16 B per (doc, gram)). */
  private[graft] def postingsShared(s: SparkSession, d: String): DataFrame =
    SessionCache.get("postings", s, d, DocTables) {
      IndexStore.persisted(s, d, "postings", DocTables)(postingsOf(s, d))
    }

  private val DocTables = Seq("documents.parquet")

  /**
   * Exact n-gram Jaccard for an (id_a, id_b) candidate pair set, via the
   * postings join (shared by the minhash and PPJoin verify stages):
   * |A ∩ B| from an equi-join on (doc, gram), |A ∪ B| = |A|+|B|−|A∩B|.
   * Candidates sharing zero grams keep jaccard 0 through the left join.
   * Linear in candidate postings — never all-pairs.
   */
  private[graft] def verifyJaccard(cand: DataFrame, postings: DataFrame): DataFrame = {
    val full = postings.select(col("doc_id"), col("gh"))
    val inter = cand.select("id_a", "id_b")
      .join(full.toDF("id_a", "gh"), "id_a")
      .join(full.toDF("id_b", "gh"), Seq("id_b", "gh"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val sizes = postings.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    cand.select("id_a", "id_b")
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(sizes.toDF("id_a", "sz_a"), "id_a")
      .join(sizes.toDF("id_b", "sz_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        round(coalesce(col("inter"), lit(0L)).cast("double")
          / (col("sz_a") + col("sz_b")
             - coalesce(col("inter"), lit(0L))).cast("double"), 4).as("jaccard"))
  }

  /**
   * Exact 3-gram Jaccard ≥ 0.8 pair set, inverted-index formulation:
   * |A ∩ B| via a shuffle join on the shingle key (co-occurrence count),
   * |A ∪ B| = |A| + |B| − |A ∩ B|. Only pairs sharing ≥1 shingle are ever
   * materialized — identical results to all-pairs for any threshold > 0,
   * but linear in total postings instead of O(n²) in documents; this is
   * the formulation that survives 100 TB (the all-pairs cross join does
   * not survive 5k docs).
   * Shingles are 64-bit hashes, not strings: only equality matters for
   * set intersection, so each 3-gram is xxhash64(t, t+1, t+2) — all
   * codegen'd, no per-row interpreted HOF, no string allocation
   * (collision odds 2^-64 are noise next to fp rounding). Set sizes ride
   * along the postings via a count window, so the shingle pipeline is
   * evaluated exactly once and the self-join's two sides share one
   * reused exchange.
   */
  private[graft] def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // hot-gram guard (round 11, the join-form half of the r9/r10 skew
    // family): a gram shared by b documents emits b² rows from one join
    // key, so common grams (df > GramDfCap — organically none at any
    // probed scale, see Blocking.GramDfCap) are dropped from BOTH sides
    // before the self-join, bounding per-key fan-out. Set sizes are
    // computed AFTER the drop, so jaccard under skew is well-defined
    // ("jaccard over non-common grams"); [[hotGrams]] rides the
    // q_ngram_jaccard row as the accounting column.
    val postings = Blocking.dfCappedPostings(
        postingsShared(s, d), "gh", Blocking.GramDfCap)._1
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
    val a = postings.toDF("id_a", "gh", "sz_a")
    val b = postings.toDF("id_b", "gh", "sz_b")
    a.join(b, Seq("gh")).filter(col("id_a") < col("id_b"))
      // exact length filter (similarity-join standard): jaccard ≤
      // min(sz)/max(sz), so size-mismatched pairs can never reach the
      // (rounded) 0.8 threshold — pruned BEFORE the counting aggregate.
      // 0.79995 (not 0.8) keeps pairs that would round up to 0.8000.
      .filter(greatest(col("sz_a"), col("sz_b")) * 0.79995
        <= least(col("sz_a"), col("sz_b")))
      .groupBy("id_a", "id_b", "sz_a", "sz_b").agg(count(lit(1)).as("inter"))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double")
          / (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.8) // threshold on the ROUNDED value (oracle too)
  }

  /** One materialization of [[jaccardPairs]] per (session, dataset):
    * q_ngram_jaccard, q_dedup_clusters, and q_pagerank_neardup all
    * consume the same Jaccard ≥ 0.8 pair graph, and each previously paid
    * the full posting-join build — the dominant cost of all three. The
    * pair set is tiny relative to the corpus (the point of dedup), so it
    * is localCheckpointed ONCE and shared for the life of the
    * SparkSession (cache keyed by session, so a new session can never
    * see a dead session's checkpoint blocks). The 100 TB analogue is
    * writing the pair table to storage once and scanning it from every
    * consumer. */
  private[graft] def jaccardPairsShared(s: SparkSession, d: String): DataFrame =
    SessionCache.get("jaccard_pairs", s, d, DocTables) {
      IndexStore.persisted(s, d, "jaccard_pairs", DocTables)(jaccardPairs(s, d))
    }

  /** 1-row `hot_grams` count over the shared posting index — the
    * accounting twin of [[jaccardPairs]]'s hot-gram drop (the oracle
    * recomputes the same df > cap count in DuckDB, so a miscounted or
    * silently-triggered drop hash-fails the q_ngram_jaccard row). */
  private[graft] def hotGrams(s: SparkSession, d: String): DataFrame =
    Blocking.dfCappedPostings(postingsShared(s, d), "gh",
      Blocking.GramDfCap)._2

  /** Union graph = shared corpus pair graph ∪ the planted drift
    * chain's edges (q_bfs_distance and q_adamic_adar both need a
    * non-clique subgraph — the organic near-dup graph is cliques and
    * isolated nodes at every gate scale). The chain is gram-disjoint
    * from the corpus (qchainz prefix), so no cross edges exist — and
    * the oracles brute-force the UNION corpus, so a violated
    * disjointness assumption hash-fails instead of passing silently. */
  private def chainUnionPairs(s: SparkSession, d: String): DataFrame =
    SessionCache.get("chain_union_pairs", s, d, DocTables) {
      IndexStore.persisted(s, d, "chain_union_pairs", DocTables) {
        import s.implicits._
        val chainDf = plantedChainDocs.toDF("doc_id", "text")
        val chainPostings = gramHashPostings(chainDf).distinct()
        val chainIds = chainDf.select(col("doc_id").as("id_a"))
        val chainCand = chainIds
          .crossJoin(chainDf.select(col("doc_id").as("id_b")))
          .filter(col("id_a") < col("id_b"))
        val chainPairs = verifyJaccard(chainCand, chainPostings)
          .filter(col("jaccard") >= 0.8).select("id_a", "id_b")
        jaccardPairsShared(s, d).select("id_a", "id_b").unionAll(chainPairs)
      }
    }

  /** Connected-component labels (node → min-id cluster) over the shared
    * Jaccard ≥ 0.8 pair graph: iterative min-label propagation to a
    * fixpoint — the standard distributed CC loop (GraphX/large-star
    * shape; converges in graph-diameter rounds, and near-dup clusters
    * are shallow by nature). Each round's join touches only
    * edges × labels, never documents; labels are checkpointed per round
    * to keep lineage flat. Cached per (session, sfDir) — cluster
    * formation (q_dedup_clusters) and canonical selection
    * (q_cluster_canonical) consume the same labels. */
  private[graft] def ccLabelsShared(s: SparkSession, d: String): DataFrame =
    SessionCache.get("cc_labels", s, d, DocTables) {
      IndexStore.persisted(s, d, "cc_labels", DocTables) {
        val pairs = jaccardPairsShared(s, d).select("id_a", "id_b")
        val edges = pairs.toDF("a", "b")
          .union(pairs.select(col("id_b"), col("id_a"))).localCheckpoint()
        var labels = pairs.select(col("id_a").as("node"))
          .union(pairs.select(col("id_b"))).distinct()
          .withColumn("cluster", col("node")).localCheckpoint()
        var converged = false
        var iter = 0
        // 32 rounds ≈ graph diameter 2^32 under pointer-halving-free
        // propagation is far beyond any dup cluster; hitting the cap means
        // a bug, and silently returning half-propagated labels would be a
        // WRONG answer — fail loudly instead (the oracle would catch it,
        // but a library user has no oracle).
        while (!converged && iter < 32) {
          val nbrMin = edges.join(labels, col("a") === col("node"))
            .groupBy(col("b").as("n2")).agg(min("cluster").as("nbr_min"))
          val next = labels.join(nbrMin, col("node") === col("n2"), "left")
            .select(col("node"),
              least(col("cluster"), coalesce(col("nbr_min"), col("cluster")))
                .as("cluster"))
            .localCheckpoint()
          converged = next.join(labels.withColumnRenamed("cluster", "prev"), "node")
            .filter(col("cluster") =!= col("prev")).isEmpty
          labels = next
          iter += 1
        }
        require(converged,
          s"dedup-cluster label propagation did not converge in $iter rounds")
        labels
      }
    }

  /** Positional rolling-window hashes: one 64-bit hash per W-token
    * window with its 1-based start position — the exact-substring-dedup
    * index (windowed twin of [[gramHashPostings]], built the same
    * shuffle-free way: W shifted slices zipped and hashed, all
    * codegen'd). At W=20 a cross-document hash collision without a true
    * shared substring is ~2^-64 — hot-key blowup, the failure mode of
    * short-gram positional joins, cannot happen. */
  private[graft] def windowHashPostings(docs: DataFrame, w: Int): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
    val n = size(col("tk"))
    base.filter(n >= w)
      .select(col("doc_id"), posexplode(arrays_zip(
        (0 until w).map(j => slice(col("tk"), lit(j + 1), n - (w - 1)).as(s"t$j")): _*)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        xxhash64((0 until w).map(j => col(s"col.t$j")): _*).as("wh"))
  }

  /** Per-doc 64-bit simhash signatures (exploded codegen formulation,
    * bit-identical to the per-row interpreted simhash64() HOF). */
  /** Planted batch for the q_simhash_neardup gate (round 15): a
    * NEAR-duplicate pair and a disjoint negative control, in the
    * untouched 9400001+ id space, vocab-disjoint from the corpus and
    * every other plant family (`qsimz`/`qsimn` prefixes — the
    * plantedChainDocs technique). Geometry: 1200 distinct tokens with
    * ONE swapped — each signature bit's vote sum has σ = √1200 ≈ 34.6
    * and the swap moves it by at most 2, so the expected bit flips are
    * ≈ 64·P(S∈{0,2})·P(hash bits differ)/2 ≈ 1 « 3 (deterministic with
    * the fixed xxhash64 family; the gate pins the actual outcome), while
    * a SHORT near-dup would NOT land (one swap among 60 tokens flips ~9
    * bits — hamming ≤ 3 of 64 is a tight radius, which is exactly why
    * the pair contract needs plants instead of organic luck). The
    * negative shares zero tokens → hamming ≈ 32, never a candidate. */
  private[graft] val simPlanted: Seq[(Long, String)] = Seq(
    (9400001L, (0 until 1200).map(i => s"qsimz$i").mkString(" ")),
    (9400002L, ((0 until 1199).map(i => s"qsimz$i") :+ "qsimz9999").mkString(" ")),
    (9400003L, (0 until 1200).map(i => s"qsimn$i").mkString(" ")))

  /** The simhash lane's verify floor — ONE constant shared by the
    * emission filter and the wiring flag (ADVICE r15: two 0.45
    * literals could silently diverge). */
  private[graft] val SimhashVerifyFloor = 0.45

  /** Id-resolution hook for the simhash lane's planted flags
    * (VERDICT r15 #4): this lane emits RAW doc ids — there is no
    * collapse/rep stage, so resolution is the identity. If a collapse
    * stage is EVER added to the emission path, route its rep
    * resolution through here so the planted-pair flag moves with the
    * emitted-id space instead of silently matching ids that no longer
    * appear (the exact precondition bug the phash lane fixed under
    * ADVICE r14). [[SimhashTwinSpec]] pins the lower-id-twin scenario
    * against this hook: a lower-id exact twin of a plant must not
    * break the flag. */
  private[graft] def simhashEmitId(raw: Column): Column = raw

  /** SimHash signatures from an explicit (doc_id, text) relation —
    * the planted-union caller's seam; [[simhashSigs]] keeps the
    * plain-corpus reading every probe/spec uses. */
  private[graft] def simhashSigsOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val votes = toks.groupBy("doc_id").agg(
      sum(when(shiftright(col("h"), 0).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as("v0"),
      (1 until 64).map(b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)).as(s"v$b")): _*)
    votes.select(col("doc_id"),
      (0 until 64).map(b =>
        when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
        .reduce((a, c) => a.bitwiseOR(c)).as("sig"))
  }

  private[graft] def simhashSigs(s: SparkSession, d: String): DataFrame =
    simhashSigsOf(Tables.documents(s, d).select("doc_id", "text"))

  /** SimHash hamming ≤ 3 pairs: blocking on the 4 16-bit signature
    * chunks (pigeonhole: hamming≤3 pairs share ≥1 exact chunk) → join
    * per block, then verify the distance — EXACT for the hamming
    * predicate, never all-pairs.
    * Returns (hamming ≤ 3 pairs, 1-row overflow_buckets count). The
    * chunk equi-join goes through the shared CAPPED enumerator
    * (round 11): a degenerate signature shared by b documents puts b
    * members in all four chunk buckets and would emit 4·b² join rows;
    * the cap bounds it with the dropped buckets counted. The
    * blocking_complete witness audit doubles as the recall detector —
    * an organically-overflowing bucket would fail the gate loudly. */
  private[graft] def simhashPairsFromSigs(sigs: DataFrame)
      : (DataFrame, DataFrame) = {
    val chunks = sigs.select(col("doc_id"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("blk"),
          shiftright(col("sig"), i * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("c"))
      .select(col("doc_id"), col("c.blk"), col("c.key"))
    val (cand, overflow) = Blocking.cappedBucketPairs(
      chunks, Seq("blk", "key"), "doc_id", Blocking.ChunkCap)
    val sa = sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))
    val pairs = cand.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        hamming64(col("sig_a"), col("sig_b")).as("dist"))
      .filter(col("dist") <= 3)
    (pairs, overflow)
  }

  val queries: Map[String, Q] = Map(

    // --- positional-index phrase search (the search-engine primitive
    // behind exact-quote retrieval and contamination span checks): find
    // every occurrence of a 4-token phrase by joining POSITIONAL
    // postings — (doc, pos, term) rows match the phrase's (i, term_i)
    // relation, each match votes for start = pos − i, and a start with
    // ALL 4 votes is an occurrence. No document re-scan, no substring
    // pass: candidates are bounded by the phrase terms' posting lists
    // (a production engine intersects from the rarest term first; the
    // group-by-(doc, start) count is the same algebra). The probe
    // phrase is data-derived (doc 0's first 4 tokens) so the oracle
    // rebuilds it identically; repeated phrase terms are handled
    // correctly since each i matches at most one pos per start.
    "q_phrase_search" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(tokens(col("text")))
          .as(Seq("pos", "term")))
      val phrase = tok.filter(col("doc_id") === 0 && col("pos") < 4)
        .select(col("pos").as("i"), col("term").as("p"))
      tok.join(broadcast(phrase), col("term") === col("p"))
        .select(col("doc_id"), (col("pos") - col("i")).as("start"))
        .groupBy("doc_id", "start").agg(count(lit(1)).as("k"))
        .filter(col("k") === 4)
        .groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
        .orderBy("doc_id")
    }),

    // --- custom-Generator trigram statistics (SURVEY.md §2i UDTF): the
    // pos_ngrams Generator streams (pos, gram) windows straight off each
    // document's token array — no per-doc n-gram array materialization
    // (the composable transform(sequence(...))+explode form allocates
    // one) — then a plain hash agg + bounded top-k. At 100 TB the
    // generator keeps per-row memory O(tokens) even for 1M-token docs.
    "q_trigram_topk" -> ((s, d) => {
      Tables.documents(s, d)
        .select(tokens(col("text")).as("tk"))
        .select(pos_ngrams(col("tk"), 3).as(Seq("pos", "gram")))
        .groupBy("gram")
        .agg(count(lit(1)).as("n"), round(avg("pos"), 4).as("avg_pos"))
        .orderBy(desc("n"), asc("gram"))
        .limit(15)
    }),

    // --- bigram LM quality scoring (CCNet-style perplexity filter):
    // train the MLE bigram model ON the corpus (global pair counts +
    // left-token totals — two hash aggs over the generator stream) and
    // score each doc by avg ln p(w2|w1) and its perplexity exp(-avg).
    // The model stays DISTRIBUTED: docs join the count tables on the
    // gram key (vocabulary-sized relations, no broadcast), so the same
    // plan trains-and-scores at any corpus size; scored docs are
    // filtered BEFORE the join, the model side never is.
    "q_lm_score" -> ((s, d) => {
      val bg = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), pos_ngrams(col("tk"), 2).as(Seq("pos", "gram")))
        .select(col("doc_id"), col("gram"),
          substring_index(col("gram"), " ", 1).as("left_"))
      val cg = bg.groupBy("gram").agg(count(lit(1)).as("c"))
      val cl = bg.groupBy("left_").agg(count(lit(1)).as("m"))
      val lp = log(col("c").cast("double") / col("m"))
      bg.filter(col("doc_id") % 7 === 0)
        .join(cg, "gram").join(cl, "left_")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(lp), 4).as("avg_logp"),
          round(exp(-avg(lp)), 4).as("ppl"))
        .orderBy("doc_id")
    }),

    // --- stupid-backoff trigram LM (round 9; Brants et al., EMNLP 2007
    // "Large Language Models in Machine Translation" — the web-scale LM
    // that skips normalization): score(w3|w1w2) = f(w1w2w3)/f(w1w2),
    // backing off to 0.4·f(w2w3)/f(w2), then 0.4²·f(w3)/N. All three
    // count relations are distributed on their gram keys (the model is
    // never broadcast — same policy as q_lm_score); scoring = one
    // trigram pass with three LEFT joins + coalesced CASE. Per-tier hit
    // counts ride along as exact integers, so the gate pins the backoff
    // LADDER itself, not just the blended score.
    "q_lm_backoff" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 3)
      val tg = toks
        .select(col("doc_id"), pos_ngrams(col("tk"), 3).as(Seq("pos", "g3")))
        .select(col("doc_id"), col("g3"),
          substring_index(col("g3"), " ", 2).as("ctx12"),
          substring_index(col("g3"), " ", -2).as("g23"),
          substring_index(substring_index(col("g3"), " ", 2), " ", -1).as("w2"),
          substring_index(col("g3"), " ", -1).as("w3"))
      // counts come from the TRAIN split only (doc_id % 5 ≠ 0): counts
      // over the full corpus would contain every scored trigram and the
      // backoff ladder could never fire — the held-out split is what
      // makes unseen trigrams genuinely unseen. (A scored w3 absent
      // from train entirely falls to the unigram tier with c1 null —
      // floored at 1 like the classic OOV count.)
      val train = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0)
      val bgAll = train
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(pos_ngrams(col("tk"), 2).as(Seq("pos", "g2")))
      val ugAll = train
        .select(explode(tokens(col("text"))).as("w"))
      val c3 = train
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(pos_ngrams(col("tk"), 3).as(Seq("pos", "g3")))
        .groupBy("g3").agg(count(lit(1)).as("c3"))
      val c2 = bgAll.groupBy("g2").agg(count(lit(1)).as("c2"))
      val c1 = ugAll.groupBy("w").agg(count(lit(1)).as("c1"))
      val nTot = ugAll.agg(count(lit(1)).as("n_tok"))
      val scoredRows = tg.filter(col("doc_id") % 5 === 0)
        .join(c3, Seq("g3"), "left")
        .join(c2.select(col("g2").as("ctx12"), col("c2").as("cctx")),
          Seq("ctx12"), "left")
        .join(c2.select(col("g2").as("g23"), col("c2").as("cbi")),
          Seq("g23"), "left")
        .join(c1.select(col("w").as("w2"), col("c1").as("cw2")), Seq("w2"), "left")
        .join(c1.select(col("w").as("w3"), col("c1").as("cw3")), Seq("w3"), "left")
        .crossJoin(broadcast(nTot))
        .select(col("doc_id"),
          when(col("c3").isNotNull,
            log(col("c3").cast("double") / col("cctx")))
          .when(col("cbi").isNotNull,
            log(lit(0.4) * col("cbi") / col("cw2")))
          .otherwise(log(lit(0.16) * coalesce(col("cw3"), lit(1L))
            / col("n_tok"))).as("lp"),
          when(col("c3").isNotNull, 1L).otherwise(0L).as("hit3"),
          when(col("c3").isNull && col("cbi").isNotNull, 1L)
            .otherwise(0L).as("hit2"),
          when(col("c3").isNull && col("cbi").isNull, 1L)
            .otherwise(0L).as("hit1"))
      scoredRows.groupBy("doc_id")
        .agg(count(lit(1)).as("n_trigrams"),
          sum("hit3").as("n_tri_hits"),
          sum("hit2").as("n_bi_backoffs"),
          sum("hit1").as("n_uni_backoffs"),
          round(avg("lp"), 4).as("avg_logp"))
        .orderBy("doc_id")
    }),

    // --- CCNet head/middle/tail pruning: every doc scored by the
    // corpus-trained bigram LM (the q_lm_score pipeline, unsampled),
    // then split per language into perplexity TERTILES — the bucket
    // assignment CCNet uses to keep the "head" of the distribution for
    // pretraining. Scoring stays distributed on the gram key (model
    // never broadcast); bucketing is ntile over (rounded ppl, doc_id) —
    // engine-exact and tie-stable. The per-lang rank is a per-language
    // sort of the DOC table (one row per doc, not the corpus text); at
    // extreme scale the same query swaps ntile for approx_percentile
    // boundaries, the q_equidepth_hist pattern. The bucket average rides
    // an integer-scaled sum (exact, associative) so distributed float
    // summation order can never flip the 4th decimal.
    "q_ccnet_buckets" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val bg = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), pos_ngrams(col("tk"), 2).as(Seq("pos", "gram")))
        .select(col("doc_id"), col("gram"),
          substring_index(col("gram"), " ", 1).as("left_"))
      val cg = bg.groupBy("gram").agg(count(lit(1)).as("c"))
      val cl = bg.groupBy("left_").agg(count(lit(1)).as("m"))
      val lp = log(col("c").cast("double") / col("m"))
      val scored = bg.join(cg, "gram").join(cl, "left_")
        .groupBy("doc_id")
        .agg(round(exp(-avg(lp)), 4).as("ppl"))
        .join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id")
      val w = Window.partitionBy("lang").orderBy(col("ppl"), col("doc_id"))
      scored.withColumn("bucket", ntile(3).over(w))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(round(col("ppl") * 1e4).cast("long")).as("ppl_e4"))
        .select(col("lang"), col("bucket"), col("n_docs"),
          round(col("ppl_e4") / lit(1e4) / col("n_docs"), 4).as("avg_ppl"))
        .orderBy("lang", "bucket")
    }),

    // --- two-LM perplexity CONTRAST filter (CCNet/DSIR shape): an
    // in-domain reference LM (bigrams of the English subset) and a
    // generic LM (the whole corpus) score every doc; a doc whose
    // reference perplexity undercuts its generic perplexity "looks
    // in-domain" — the keep set for a targeted pretraining mix. Both
    // models stay DISTRIBUTED on the gram key (vocabulary-sized count
    // relations, never broadcast); scoring is two equi-join passes over
    // the bigram stream, so the plan trains-and-scores at any corpus
    // size. Per-bigram log-probs ride an integer-scaled (1e6) sum —
    // exact and associative, so distributed float summation order can
    // never flip the rounded output (the q_ccnet_buckets trick). Docs
    // with zero reference-covered bigrams drop via the inner join;
    // n_scored reports the surviving coverage per language.
    "q_ppl_contrast" -> ((s, d) => {
      val bg = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), pos_ngrams(col("tk"), 2).as(Seq("pos", "gram")))
        .select(col("doc_id"), col("gram"),
          substring_index(col("gram"), " ", 1).as("left_"))
      val en = Tables.documents(s, d).filter(col("lang") === "en").select("doc_id")
      val bgRef = bg.join(en, "doc_id")
      val cgR = bgRef.groupBy("gram").agg(count(lit(1)).as("c_ref"))
      val clR = bgRef.groupBy("left_").agg(count(lit(1)).as("m_ref"))
      val cgG = bg.groupBy("gram").agg(count(lit(1)).as("c_gen"))
      val clG = bg.groupBy("left_").agg(count(lit(1)).as("m_gen"))
      def lpE6(tag: String) =
        round(log(col(s"c_$tag").cast("double") / col(s"m_$tag")) * 1e6).cast("long")
      val scored = bg
        .join(cgG, "gram").join(clG, "left_")
        .join(cgR, "gram").join(clR, "left_")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n"),
          sum(lpE6("ref")).as("se_ref"), sum(lpE6("gen")).as("se_gen"))
        .select(col("doc_id"),
          round(exp(-(col("se_ref") / 1e6) / col("n")), 4).as("ppl_ref"),
          round(exp(-(col("se_gen") / 1e6) / col("n")), 4).as("ppl_gen"))
      scored.join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_scored"),
          sum(when(col("ppl_ref") < col("ppl_gen"), 1L).otherwise(0L)).as("n_keep"),
          round(sum(round(col("ppl_ref") * 1e4).cast("long")) / 1e4 / count(lit(1)), 4)
            .as("avg_ppl_ref"),
          round(sum(round(col("ppl_gen") * 1e4).cast("long")) / 1e4 / count(lit(1)), 4)
            .as("avg_ppl_gen"))
        .orderBy("lang")
    }),

    // --- exact dedup (hash-groupBy; scales by shuffling on the key) ----
    "q_dedup_exact" -> ((s, d) => Tables.documents(s, d)
      .groupBy("lang")
      .agg(countDistinct(col("text")).as("n_unique"),
        count(lit(1)).as("n_total"))
      .orderBy("lang")),

    // canonical-row dedup: keep min doc_id per identical text. The scan
    // is unioned with a deterministic PLANTED duplicate batch (same
    // literal rows in the oracle SQL): the synthetic corpus has no
    // byte-identical texts at sf0.01, so without it the gate compares
    // empty row sets — a check that can never fire. With the plant, the
    // sf0.01 gate has nonzero rows either engine could get wrong.
    "q_dedup_canonical" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select("doc_id", "text")
        .unionAll(plantedDupDocs.toDF("doc_id", "text"))
        .groupBy("text")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .select(col("keep_id"), col("n_copies"))
        .orderBy("keep_id")
    }),

    // C4-style cross-document boilerplate-line removal (2j): split each
    // doc into aligned 10-word chunks (the synthetic corpus has no
    // newlines, so a fixed word window stands in for the natural line),
    // count in how many DISTINCT docs each FULL chunk occurs, and strip
    // every occurrence of chunks seen in ≥3 docs — the cookie-banner /
    // nav-bar removal step of a web-corpus build, distinct from
    // q_substring_dedup (which keeps ONE copy of an overlapping island;
    // this removes ALL copies of high-document-frequency spans). Only
    // full 10-word chunks are candidates: short trailing chunks collide
    // organically across the small-vocabulary corpus and would turn the
    // operator into trailing-word noise. The organic corpus has no
    // repeated full chunk (50-word vocab → 10-word repeats are ~1e-17),
    // so the gate is made to bite with the planted boilerplate batch —
    // same literals in the oracle; the 2-doc control chunk must survive.
    // Scale: one chunk-keyed shuffle for the document-frequency count,
    // one anti join on the chunk key (the boilerplate relation is DF-
    // filtered and small), one doc-keyed shuffle to reassemble — no
    // all-pairs anywhere, and the exploded chunk relation is ~|tokens|/10
    // rows. The chunking stays map-side (slice over the split array).
    "q_line_dedup" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select("doc_id", "text")
        .unionAll(plantedLineDocs.toDF("doc_id", "text"))
      val chunks = docs
        .withColumn("w", split(col("text"), " "))
        .withColumn("nch",
          ceil(size(col("w")).cast("double") / 10.0).cast("int"))
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), col("nch") - 1),
            i => array_join(slice(col("w"), i * 10 + 1, lit(10)), " ")))
            .as(Seq("chunk_id", "chunk")))
      val boiler = chunks
        .filter(size(split(col("chunk"), " ")) === 10)
        .groupBy("chunk")
        .agg(countDistinct(col("doc_id")).as("ndocs"))
        .filter(col("ndocs") >= 3)
        .select(col("chunk").as("bchunk"))
      chunks.join(boiler, col("chunk") === col("bchunk"), "left_outer")
        .groupBy("doc_id")
        .agg(
          array_join(transform(
            array_sort(collect_list(when(col("bchunk").isNull,
              struct(col("chunk_id"), col("chunk"))))),
            st => st.getField("chunk")), " ").as("clean_text"),
          sum(when(col("bchunk").isNotNull, 1L).otherwise(0L))
            .as("n_removed"))
        .orderBy("doc_id")
    }),

    // --- end-to-end training-data pipeline (2j): dedup → quality filter
    // → per-language corpus stats, all in one declarative plan. Each
    // stage is shuffle-parallel: dedup is a hash-agg on text, the filter
    // is a codegen'd projection, the final agg is partial+final. This is
    // the flagship composition a 100 TB corpus build runs.
    "q_pipeline_e2e" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // canonical doc per identical text: arg-min doc_id as a HASH agg
      // (long buffer) + semi join back on the unique id — a min(struct)
      // carrying lang along would force a SortAggregate on every text
      // group (struct buffers are not hash-aggregatable)
      val keepIds = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val canon = docs.join(keepIds, Seq("doc_id"), "left_semi")
      canon
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("uniq_ratio",
          round(size(array_distinct(col("toks"))).cast("double")
            / size(col("toks")).cast("double"), 4))
        .filter(col("n_tokens") >= 20 && col("uniq_ratio") >= 0.3)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          round(avg("n_tokens"), 4).as("avg_tokens"))
        .orderBy("lang")
    }),

    // --- stratified corpus subsampling (2j): per-class sampling rates,
    // the standard rebalancing step before training-data mixing.
    // CONTENT-HASH gating (md5 of the row key under a per-class hex
    // threshold), not RNG: no shuffle, embarrassingly parallel, and —
    // unlike seeded Bernoulli, which depends on partition layout — the
    // keep/drop decision is a pure function of the row, so re-runs,
    // retries, and incremental loads at 100 TB select the SAME rows.
    // Fixed-width lowercase hex compares lexicographically == numerically,
    // so the threshold is a plain string compare in any engine (✦).
    // Rates: click 0x1999/0x10000 ≈ 10%, view ≈ 5%, error = 50%,
    // purchase/signup = 100%.
    "q_stratified_sample" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val keyHex = substring(md5(col("event_id").cast("string")), 1, 4)
      val keep = when(col("event_type") === "click", keyHex < "1999")
        .when(col("event_type") === "view", keyHex < "0ccc")
        .when(col("event_type") === "error", keyHex < "8000")
        .otherwise(lit(true))
      ev.filter(keep)
        .groupBy("event_type").agg(count(lit(1)).as("n_sampled"))
        .join(ev.groupBy("event_type").agg(count(lit(1)).as("n_total")), "event_type")
        .orderBy("event_type")
    }),

    // --- near-dup dedup via MinHash + LSH banding (the 100 TB path:
    //     band collisions → shuffle join, no all-pairs) ------------------
    // Signatures are computed in exploded form — one codegen'd xxhash64
    // per (gram, hash-family) then a hash-aggregate min per doc —
    // instead of a per-row higher-order function (HOFs are interpreted,
    // CodegenFallback). Coordinate j = min over grams of
    // xxhash64(j, gramHash); hashing the 64-bit gram hash instead of the
    // gram string preserves the minhash property (coordinates agree with
    // probability = Jaccard similarity) while keeping the whole pipeline
    // string-free.
    // Banding (8 bands × 2 rows of a k=16 signature) proposes candidates:
    // P[collide] = 1−(1−s²)^8 ≈ 0.9997 at s=0.8 and →1 above, so every
    // gate-scale near-dup pair lands in ≥1 band; the exact postings-join
    // verify then removes the sub-threshold collisions. Output therefore
    // EQUALS the exact Jaccard ≥ 0.8 pair set (same oracle as
    // q_ngram_jaccard) while the candidate stage stays a band equi-join —
    // never all-pairs. This is the canonical 100 TB dedup shape:
    // cheap LSH proposal + exact verification of the few candidates.
    "q_minhash_neardup" -> ((s, d) => {
      val k = 16
      // the SHARED posting index (same relation as building it inline —
      // postingsShared IS gramHashPostings(...).distinct(), checkpointed
      // once per session), so the signature agg starts from the
      // maintained index instead of re-deriving grams from raw text
      val postings = postingsShared(s, d)
      val sigs = postings.groupBy("doc_id")
        .agg(min(xxhash64(lit(0), col("gh"))).as("h0"),
          (1 until k).map(j => min(xxhash64(lit(j), col("gh"))).as(s"h$j")): _*)
      // band hash = xxhash64(bandIdx, "h_i,h_i+1,...") — the same bytes
      // lsh_bands() hashes, so the two formulations interoperate
      val banded = sigs.select(col("doc_id"), explode(array((0 until 8).map { b =>
        xxhash64(lit(b), concat_ws(",",
          (0 until 2).map(r => col(s"h${b * 2 + r}").cast("string")): _*))
      }: _*)).as("band"))
      // candidate enumeration through the shared CAPPED enumerator
      // (round 11 — the join-form half of the r10 skew family): a
      // viral-boilerplate band shared by b docs would emit b² join rows
      // from one key; the cap bounds it at BandCap²/2 with the dropped
      // buckets surfaced in the overflow_buckets accounting column
      // (oracle pins 0 — organic band-bucket max is 10 at every probed
      // scale incl. 100×, BucketProbe round 11).
      val (cand, overflow) = Blocking.cappedBucketPairs(
        banded, Seq("band"), "doc_id", Blocking.BandCap)
      val verified = verifyJaccard(cand, postings)
        .filter(col("jaccard") >= 0.8) // threshold on the ROUNDED value
      // sentinel-backed accounting (round 12, the q_embed_neardup
      // rationale): an all-overflow band regime must surface its count
      // even when every candidate pair was clipped away
      Blocking.withOverflowAccounting(verified, overflow)
        .orderBy("id_a", "id_b")
    }),

    // --- MinHash banding RECALL gate (2j dedup confidence): a pipeline
    // that swaps the exact pair graph for banded-MinHash candidates must
    // MEASURE the candidate set's recall, not assume it. The candidates
    // from the q_minhash_neardup banding (k=16 sigs, 8 bands × 2 rows)
    // are checked against the exact Jaccard ≥ 0.8 pair graph
    // ([[jaccardPairsShared]]): recall_ok ⇔ every exact pair was
    // proposed. Banding miss probability at j = 0.8 is (1 − 0.8²)⁸ ≈
    // 2.8×10⁻⁴ per pair a priori — and the hashes are FIXED, so the
    // actual outcome is deterministic and the gate pins it. Cost: signatures are one hash
    // agg over the shared posting index, candidates one self-equi-join
    // on the band key, the audit two bounded joins against the (tiny)
    // exact pair set — nothing all-pairs, same plan at 100 TB. n_exact
    // is data-derived and DuckDB-checked; candidates are hash-only.
    "q_minhash_recall" -> ((s, d) => {
      val k = 16
      val postings = postingsShared(s, d)
      val sigs = postings.groupBy("doc_id")
        .agg(min(xxhash64(lit(0), col("gh"))).as("h0"),
          (1 until k).map(j => min(xxhash64(lit(j), col("gh"))).as(s"h$j")): _*)
      val banded = sigs.select(col("doc_id"), explode(array((0 until 8).map { b =>
        xxhash64(lit(b), concat_ws(",",
          (0 until 2).map(r => col(s"h${b * 2 + r}").cast("string")): _*))
      }: _*)).as("band"))
      // same capped enumeration as q_minhash_neardup (round 11): the
      // recall gate measures the candidates a production run would use
      val (cand, overflow) = Blocking.cappedBucketPairs(
        banded, Seq("band"), "doc_id", Blocking.BandCap)
      val exact = jaccardPairsShared(s, d).select("id_a", "id_b")
      val nHit = exact.join(cand, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      val nExact = exact.agg(count(lit(1)).as("n_exact"))
      nExact.crossJoin(nHit).crossJoin(broadcast(overflow))
        .select(lit("minhash_b8r2").as("method"), col("n_exact"),
          (col("n_hit") === col("n_exact")).as("recall_ok"),
          col("overflow_buckets"))
    }),

    // --- SimHash near-dup (64-bit signature, hamming ≤ 3) ---------------
    // Candidate detection in [[simhashPairsFromSigs]] (pigeonhole
    // 16-bit-chunk blocking), then PRODUCTION verify semantics
    // (round 15): candidates PROPOSE, the exact dedup metric DISPOSES —
    // emitted pairs are the hamming-≤3 candidates whose unigram
    // (token-set) Jaccard clears 0.45, exactly the q_minhash_neardup
    // recipe (banding → exact-Jaccard filter). Round 15's 10× sweep
    // falsified the previous contract ("every hamming-≤3 pair has
    // vocab Jaccard ≥ floor") the same way the r10 sf0.1 sweep
    // falsified its 0.8 predecessor: ANY posterior floor on raw
    // candidates is corpus calibration — measured mins walked 0.86 (sf
    // gates) → 0.50 (sf0.1) → 0.23 (10×), and the weighted-cosine
    // reformulation fares no better (hamming ≤ 3 pairs reach wcos 0.54:
    // with per-token ±1 hash projections the bit errors are correlated,
    // so the Charikar θ/π tail is not a usable bound). Simhash bits are
    // not DuckDB-expressible, so the gate row carries the operator's
    // contract, computed in-plan (the literal-TRUE oracle trick):
    // (a) blocking_complete — the chunk-blocked candidate set EQUALS
    //     the all-pairs hamming≤3 set over a deterministic ≤1400-doc
    //     witness sample (CONSTANT audit cost at any corpus size);
    // (b) planted_pair_found / neg_rejected — the [[simPlanted]]
    //     near-dup pair (1199/1200 shared tokens → ≤3 sig-bit flips by
    //     construction) must survive blocking AND verify; the
    //     vocab-disjoint control must never be emitted. Scale-TRUE
    //     teeth: plants are corpus-independent, unlike organic-pair
    //     floors;
    // (c) pairs_vocab_ok — every EMITTED pair clears the verify floor
    //     (the wiring check on the verify join itself).
    "q_simhash_neardup" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select("doc_id", "text")
        .unionAll(simPlanted.toDF("doc_id", "text"))
      // signatures are the expensive pass (64 bit-vote sums over every
      // token) — materialize ONCE (localCheckpoint, n×16 bytes) and fan
      // out to blocking, audit, and verify instead of recomputing per
      // consumer (was 3 corpus passes)
      val sigs = simhashSigsOf(docs).localCheckpoint()
      val (pairs, chunkOverflow) = simhashPairsFromSigs(sigs)
      // the all-pairs completeness audit is bounded to a deterministic
      // witness sample (≤ ~1400 docs → ≤ 1M sig pairs, CONSTANT at any
      // corpus size): the pigeonhole guarantee it checks is uniform over
      // doc subsets, so a fixed-size witness keeps the empirical proof
      // without an O(n²) stage at 100 TB
      val step = sigs.agg(
        greatest(lit(1L), floor(count(lit(1)) / 1400.0).cast("long")).as("step"))
      val sub = sigs.crossJoin(broadcast(step))
        .filter(pmod(col("doc_id"), col("step")) === 0)
        .select("doc_id", "sig")
      val sa = sub.toDF("id_a", "sig_a")
      val sb = sub.toDF("id_b", "sig_b")
      val nAll = sa.crossJoin(sb).filter(col("id_a") < col("id_b"))
        .filter(hamming64(col("sig_a"), col("sig_b")) <= 3)
        .agg(count(lit(1)).as("n_all"))
      val nBlocked = pairs.crossJoin(broadcast(step))
        .filter(pmod(col("id_a"), col("step")) === 0
          && pmod(col("id_b"), col("step")) === 0)
        .agg(count(lit(1)).as("n_blocked"))
      val uniPostings = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .select(col("doc_id"), xxhash64(col("t")).as("gh")).distinct()
      val verified = verifyJaccard(pairs, uniPostings)
        .localCheckpoint() // read by the emission filter + wiring flag
      val emitted = verified
        .filter(col("jaccard") >= SimhashVerifyFloor)
        .localCheckpoint() // read by three flag aggregates below
      // pairs_vocab_ok as a WIRING check (ADVICE r15): computed over
      // `emitted` it was tautological (the filter already enforced the
      // floor; only two diverging literals could flip it, and those
      // are now one shared constant). Instead pin the relation-level
      // identity emitted ≡ {candidates: jaccard ≥ floor} by comparing
      // emitted-set MEMBERSHIP against the floor over the PRE-filter
      // verify relation — a dropped join, an extra filter, or a future
      // collapse stage inserted between verify and output flips it.
      // Cost: one candidate-sized (band-capped, bounded) join.
      val vocabOk = verified
        .join(emitted.select(col("id_a"), col("id_b"), lit(true).as("em")),
          Seq("id_a", "id_b"), "left")
        .filter((col("jaccard") >= SimhashVerifyFloor)
          =!= coalesce(col("em"), lit(false)))
        .agg((count(lit(1)) === 0).as("pairs_vocab_ok"))
      // planted membership through the lane's id-resolution hook
      // ([[simhashEmitId]] — identity today, see its doc)
      val pA = simhashEmitId(lit(9400001L))
      val pB = simhashEmitId(lit(9400002L))
      val plantedFound = emitted
        .filter(col("id_a") === least(pA, pB)
          && col("id_b") === greatest(pA, pB))
        .agg((count(lit(1)) === 1).as("planted_pair_found"))
      val pN = simhashEmitId(lit(9400003L))
      val negRejected = emitted
        .filter(col("id_a") === pN || col("id_b") === pN)
        .agg((count(lit(1)) === 0).as("neg_rejected"))
      nBlocked.crossJoin(nAll).crossJoin(plantedFound).crossJoin(negRejected)
        .crossJoin(vocabOk).crossJoin(broadcast(chunkOverflow))
        .select(lit("simhash").as("method"), lit(3).as("max_hamming"),
          (col("n_blocked") === col("n_all")).as("blocking_complete"),
          col("planted_pair_found"), col("neg_rejected"),
          col("pairs_vocab_ok"), col("overflow_buckets"))
    }),

    // --- n-gram Jaccard near-dup, inverted-index formulation -------------
    // (body in [[jaccardPairs]]; materialized once per session via
    // [[jaccardPairsShared]], shared with q_dedup_clusters and
    // q_pagerank_neardup)
    "q_ngram_jaccard" -> ((s, d) => jaccardPairsShared(s, d)
      .crossJoin(broadcast(hotGrams(s, d)))
      .orderBy("id_a", "id_b")),

    // --- asymmetric CONTAINMENT dedup (LSH-Ensemble / doc-in-doc): the
    // pairs the symmetric Jaccard measure structurally MISSES — a short
    // doc fully contained in a long one has C = |A∩B|/min(|A|,|B|) = 1
    // but J = |A|/|B| « 0.8 (quote extraction, page-in-site, prefix
    // snapshots). Emitted = C ≥ 0.9 ∧ J < 0.8, exactly the
    // complement of the jaccard lane. Contained probes are derived
    // IN-PLAN (first 20 words of every ≥50-token doc with id < 20 —
    // the same derivation in the oracle), so C = 1.0 rows exist by
    // construction at every scale without literals. Same inverted-
    // index candidate join as [[jaccardPairs]], minus its length
    // filter — containment admits arbitrary size asymmetry, the KNOWN
    // extra cost of the containment problem (Zhu et al., LSH
    // Ensemble): candidates still require a shared gram, never
    // all-pairs.
    "q_containment_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val probes = docs
        .filter(col("doc_id") < 20 && size(split(col("text"), " ")) >= 50)
        .select((col("doc_id") + 9300001L).as("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 20), " ").as("text"))
      // corpus postings come from the ONE maintained index
      // ([[postingsShared]], round 16 — this lane re-tokenized the whole
      // corpus per run; probe ids live in a disjoint id space, so
      // distinct(corpus ∪ probes) ≡ distinct(corpus) ∪ distinct(probes)
      // and only the 20 probe docs are shingled here).
      // Same hot-gram guard as [[jaccardPairs]] (round 11): containment
      // has no length filter, so a common gram is an even hotter join
      // key here; df-capped with the drop count surfaced per row
      val (kept, hotCount) = Blocking.dfCappedPostings(
        postingsShared(s, d)
          .unionAll(gramHashPostings(probes).distinct()),
        "gh", Blocking.GramDfCap)
      // the candidate self-join carries (id, gh) ONLY — set sizes attach
      // to the aggregated PAIR relation afterwards (round 16, guide
      // §"shuffle fewer bytes": the pair set is tiny relative to the
      // postings, so sizes ride two small joins instead of widening
      // every row of the heaviest shuffle; the per-posting size window
      // — an extra full shuffle + sort of the postings — is gone).
      // Sizes are still counted AFTER the hot-gram drop, so containment
      // under skew keeps the same "over non-common grams" definition.
      val mat = kept.localCheckpoint() // self-join sides + the size agg
      val sizes = mat.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val a = mat.toDF("id_a", "gh")
      val b = mat.toDF("id_b", "gh")
      a.join(b, Seq("gh")).filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("inter"))
        .join(sizes.toDF("id_a", "sz_a"), "id_a")
        .join(sizes.toDF("id_b", "sz_b"), "id_b")
        .select(col("id_a"), col("id_b"),
          round(col("inter").cast("double") /
            least(col("sz_a"), col("sz_b")).cast("double"), 4)
            .as("containment"),
          round(col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 4)
            .as("jaccard"))
        .filter(col("containment") >= 0.9 && col("jaccard") < 0.8)
        .crossJoin(broadcast(hotCount))
        .orderBy("id_a", "id_b")
    }),

    // --- INCREMENTAL dedup: a new document batch (delta = doc_id % 10
    // == 0, a stand-in for today's crawl) deduped AGAINST the existing
    // corpus (base), per-delta-doc verdict: 'dup' of its best Jaccard
    // match at ≥ 0.8, else 'new' (best match reported either way;
    // deterministic min-id tie-break on equal rounded scores). This is
    // the production dedup pattern at 100 TB — the full corpus is never
    // re-paired; the base gram postings are a maintained INDEX and only
    // the (small) delta's postings join against it, so cost scales with
    // the delta, not the corpus. Same inverted-index shape as
    // [[jaccardPairs]]: candidates exist only where a gram is shared —
    // no all-pairs anywhere. The argmax is two bounded hash aggs (max
    // score, then min id at that score) — no sort, no min_by-over-struct
    // (SortAggregate trap).
    "q_dedup_incremental" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // grams are per-doc, so filtering the shared index is identical to
      // building postings from the filtered docs — the delta and the base
      // both read the ONE maintained index
      def sets(pred: org.apache.spark.sql.Column) = postingsShared(s, d)
        .filter(pred)
        .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
      val dp = sets(col("doc_id") % 10 === 0).toDF("id_d", "gh", "sz_d")
      val bp = sets(col("doc_id") % 10 =!= 0).toDF("id_b", "gh", "sz_b")
      val scored = dp.join(bp, Seq("gh"))
        .groupBy("id_d", "id_b", "sz_d", "sz_b").agg(count(lit(1)).as("inter"))
        .select(col("id_d"), col("id_b"),
          round(col("inter").cast("double")
            / (col("sz_d") + col("sz_b") - col("inter")).cast("double"), 4).as("jac"))
      val best = scored.groupBy("id_d").agg(max("jac").as("best_jac"))
      val bestId = scored.join(best, "id_d")
        .filter(col("jac") === col("best_jac"))
        .groupBy("id_d", "best_jac").agg(min("id_b").as("best_base"))
      Tables.documents(s, d).filter(col("doc_id") % 10 === 0).select(col("doc_id"))
        .join(bestId.withColumnRenamed("id_d", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("best_jac") >= 0.8, lit("dup")).otherwise(lit("new")).as("status"),
          col("best_jac"), col("best_base"))
        .orderBy("doc_id")
    }),

    // Same result as q_ngram_jaccard via PREFIX FILTERING (PPJoin-style):
    // under a global gram order (rarest first), two sets with J ≥ t must
    // share a gram within each one's first |x| − ⌈t·|x|⌉ + 1 grams — so
    // only those prefix postings enter the candidate join. The index
    // shrinks from every gram to ~(1−t) of them (5× here at t=0.8), and
    // candidates are verified exactly. At THIS corpus size the extra
    // passes (freq count, rank window, verify joins) cost more than the
    // candidate reduction saves (~3.4s vs ~2.0s warm at sf0.1) — the
    // technique wins when posting lists are large and similar pairs are
    // sparse, i.e. exactly the 100 TB regime; both formulations are kept
    // and hash-checked against the same oracle.
    "q_ngram_jaccard_prefix" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val t = 0.79995 // 0.8 relaxed for the 4-decimal rounding boundary
      // reads the SHARED posting index: when this query owned its posting
      // build, an in-query localCheckpoint measured slower than the
      // reused exchange — but the session-wide index (postingsShared) is
      // built once for the whole dedup family, so the build cost here is
      // zero and the three consumers below read checkpointed blocks
      val postings = postingsShared(s, d)
        .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
      // global order: rarest grams first → fewest candidate collisions
      val freq = postings.groupBy("gh").agg(count(lit(1)).as("gf"))
      val ranked = postings.join(freq, "gh")
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("gf"), col("gh"))))
      val prefixes = ranked
        .filter(col("rn") <= col("sz") - ceil(col("sz") * t) + 1)
        .select(col("doc_id"), col("gh"), col("sz"))
      val pa = prefixes.toDF("id_a", "gh", "sz_a")
      val pb = prefixes.toDF("id_b", "gh", "sz_b")
      val candidates = pa.join(pb, Seq("gh"))
        .filter(col("id_a") < col("id_b"))
        .filter(greatest(col("sz_a"), col("sz_b")) * t
          <= least(col("sz_a"), col("sz_b")))
        .select("id_a", "id_b").distinct()
      // exact verification of the (few) candidates on the full postings:
      // expand each pair to a's grams, equi-join b's postings on
      // (id_b, gh) so only shared grams survive, count = intersection
      val full = postings.select(col("doc_id"), col("gh"))
      val inter = candidates
        .join(full.toDF("id_a", "gh"), "id_a")
        .join(full.toDF("id_b", "gh"), Seq("id_b", "gh"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      val sizes = postings.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      inter
        .join(sizes.toDF("id_a", "sz_a"), "id_a")
        .join(sizes.toDF("id_b", "sz_b"), "id_b")
        .select(col("id_a"), col("id_b"),
          round(col("inter").cast("double")
            / (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.8)
        .orderBy("id_a", "id_b")
    }),

    // --- train/test contamination check (2j): which training docs cover
    // ≥ 50% of a benchmark doc's distinct grams. ASYMMETRIC containment
    // |A∩B|/|B| — the decontamination predicate (a big training doc that
    // swallows a whole benchmark item must be flagged even though its
    // symmetric Jaccard is tiny). Same inverted-index shape as the dedup
    // family: only (train, bench) pairs sharing ≥1 gram are materialized,
    // so the join is linear in shared postings, never |train|×|bench|.
    // The benchmark set is a deterministic stand-in (doc_id % 20 == 0).
    "q_contamination" -> ((s, d) => {
      // the session-shared posting index feeds bench/train/freq and both
      // verify joins (was rebuilt per query, then per consumer)
      val postings = postingsShared(s, d)
      val bench = postings.filter(col("doc_id") % 20 === 0)
        .toDF("bench_id", "gh")
      val train = postings.filter(col("doc_id") % 20 =!= 0)
        .toDF("train_id", "gh")
      val bSizes = bench.groupBy("bench_id").agg(count(lit(1)).as("bsz"))
      // prefix filtering for CONTAINMENT (rarest-first global gram order):
      // a train doc covering >= t of a bench doc must share one of the
      // bench doc's first bsz - ceil(t*bsz) + 1 RAREST grams, so only the
      // rare prefix postings drive candidate generation and hot grams
      // (which make the naive postings join superlinear on a reused-
      // vocabulary corpus) never explode the join
      val t = 0.5
      val freq = postings.groupBy("gh").agg(count(lit(1)).as("gf"))
      val ranked = bench.join(freq, "gh")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("bench_id").orderBy(col("gf"), col("gh"))))
        .join(bSizes, "bench_id")
      val bPrefix = ranked
        .filter(col("rn") <= col("bsz") - ceil(col("bsz") * t) + 1)
        .select("bench_id", "gh")
      val cand = train.join(bPrefix, "gh")
        .select("train_id", "bench_id").distinct()
      cand
        .join(train, "train_id")
        .join(bench, Seq("bench_id", "gh"))
        .groupBy("train_id", "bench_id").agg(count(lit(1)).as("hit"))
        .join(bSizes, "bench_id")
        .select(col("train_id"), col("bench_id"),
          round(col("hit").cast("double") / col("bsz").cast("double"), 4)
            .as("coverage"))
        .filter(col("coverage") >= 0.5)
        .orderBy("train_id", "bench_id")
    }),

    // --- document fingerprint (order-sensitive rolling hash) ------------
    // The 64-bit fingerprint is injective on this corpus (collision odds
    // 2^-64), so fingerprint-duplicate groups == normalized-token-sequence
    // duplicate groups — which IS DuckDB-expressible. The fp value itself
    // is dropped from the output (not oracle-computable); grouping by it
    // is the operator under test.
    // The planted batch (q_dedup_canonical's technique) here exercises
    // NORMALIZATION, not byte equality: the two planted texts differ in
    // case and spacing but tokenize to the same sequence, so the gate
    // fails if either engine's normalize-then-group path drifts.
    "q_doc_fingerprint" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select("doc_id", "text")
        .unionAll(plantedFpDocs.toDF("doc_id", "text"))
        .select(col("doc_id"), doc_fingerprint(tokens(col("text"))).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("n"), min("doc_id").as("first_id"))
        .filter(col("n") > 1)
        .select(col("first_id"), col("n"))
        .orderBy("first_id")
    }),

    // --- language ID (stopword-ratio heuristic, pure SQL) ---------------
    // exploded formulation of stopword_ratio(): explode_outer keeps
    // zero-token docs (score 0.0), the isin hit-count and ratio are a
    // plain hash agg — zero lambda HOFs, fully codegen'd (the Column
    // helper stopword_ratio() uses an interpreted filter HOF and stays
    // as the per-row convenience form)
    "q_lang_id" -> ((s, d) => Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode_outer(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "lang")
      .agg(count(col("tok")).as("n"),
        count(when(col("tok").isin(enStops.map(lit): _*), 1)).as("hits"))
      .select(col("doc_id"), col("lang"),
        when(col("n") === 0, 0.0)
          .otherwise(round(col("hits").cast("double") / col("n").cast("double"), 4))
          .as("en_score"))
      .withColumn("pred_en", (col("en_score") >= 0.05).cast("int"))
      .orderBy("doc_id").limit(300)),

    // --- classifier evaluation (the eval primitive every trained
    // filter needs): q_lang_id's stopword detector scored against the
    // ground-truth labels over the FULL corpus — confusion counts and
    // precision/recall/F1/accuracy in one bounded agg. F1 is computed
    // from the raw counts (2tp/(2tp+fp+fn)), not from the separately
    // rounded P and R, so rounding can't compound; divisions are
    // ANSI-guarded. At 100 TB this is one scan + a 4-counter agg.
    "q_classifier_eval" -> ((s, d) => {
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode_outer(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "lang")
        .agg(count(col("tok")).as("n"),
          count(when(col("tok").isin(enStops.map(lit): _*), 1)).as("hits"))
        .select((col("lang") === "en").cast("int").as("actual"),
          (when(col("n") === 0, 0.0)
            .otherwise(round(col("hits").cast("double") / col("n"), 4))
            >= 0.05).cast("int").as("pred"))
      scored.agg(
          sum(when(col("actual") === 1 && col("pred") === 1, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("actual") === 0 && col("pred") === 1, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("actual") === 1 && col("pred") === 0, 1L)
            .otherwise(0L)).as("fn"),
          sum(when(col("actual") === 0 && col("pred") === 0, 1L)
            .otherwise(0L)).as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          when(col("tp") + col("fp") > 0,
            round(col("tp") / (col("tp") + col("fp")), 4)).as("precision"),
          when(col("tp") + col("fn") > 0,
            round(col("tp") / (col("tp") + col("fn")), 4)).as("recall"),
          when(col("tp") * 2 + col("fp") + col("fn") > 0,
            round(col("tp") * 2 / (col("tp") * 2 + col("fp") + col("fn")), 4))
            .as("f1"),
          round((col("tp") + col("tn"))
            / (col("tp") + col("fp") + col("fn") + col("tn")), 4)
            .as("accuracy"))
    }),

    // --- quality scoring (length / punct / stopword / dedup ratios) -----
    "q_quality_score" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      docs.select(
          col("doc_id"),
          col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          round(length(col("text")).cast("double")
            / size(split(col("text"), " ")).cast("double"), 4).as("avg_tok_len"),
          round(size(array_distinct(split(col("text"), " "))).cast("double")
            / size(split(col("text"), " ")).cast("double"), 4).as("uniq_ratio"))
        .withColumn("quality",
          when(col("n_tokens") >= 20 && col("uniq_ratio") >= 0.3, 1).otherwise(0))
        .orderBy("doc_id").limit(300)
    }),

    // --- quality ENSEMBLE (FineWeb-style): one verdict per document from
    // three independent filter channels the engine already computes —
    // (a) length/diversity (q_quality_score's rule), (b) English-ness
    // (q_lang_id's stopword ratio), (c) token shape (the gibberish guard
    // 2 ≤ avg_tok_len ≤ 12) — majority ≥ 2 of 3 keeps the doc, with
    // per-channel votes in the output so a drifting channel is visible,
    // not averaged away (the q_multimodal_dedup accounting applied to
    // the quality lane). One scan, all channels map-side; no channel
    // needs a join or shuffle.
    "q_quality_ensemble" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val rawToks = split(col("text"), " ")
      // exploded stopword count (q_lang_id's codegen-friendly form —
      // the filter() HOF is interpreted per element); per-doc scalars
      // ride the group as max() of within-group constants, ONE shuffle
      val base = docs.select(col("doc_id"),
          size(rawToks).cast("long").as("n_tokens"),
          round(size(array_distinct(rawToks)).cast("double")
            / size(rawToks).cast("double"), 4).as("uniq_ratio"),
          round(length(col("text")).cast("double")
            / size(rawToks).cast("double"), 4).as("avg_tok_len"),
          explode_outer(tokens(col("text"))).as("tok"))
        .groupBy("doc_id")
        .agg(max("n_tokens").as("n_tokens"),
          max("uniq_ratio").as("uniq_ratio"),
          max("avg_tok_len").as("avg_tok_len"),
          count(col("tok")).as("n_lc"),
          count(when(col("tok").isin(enStops.map(lit): _*), 1)).as("hits"))
      base
        .withColumn("en_score",
          when(col("n_lc") === 0, 0.0)
            .otherwise(round(col("hits").cast("double")
              / col("n_lc").cast("double"), 4)))
        .select(col("doc_id"),
          (col("n_tokens") >= 20 && col("uniq_ratio") >= 0.3)
            .cast("int").as("v_len"),
          (col("en_score") >= 0.05).cast("int").as("v_lang"),
          (col("avg_tok_len").between(2.0, 12.0)).cast("int").as("v_shape"))
        .withColumn("votes", col("v_len") + col("v_lang") + col("v_shape"))
        .withColumn("keep", col("votes") >= 2)
        .orderBy("doc_id").limit(300)
    }),

    // --- token stats per language (text analysis aggregate) -------------
    "q_token_stats" -> ((s, d) => Tables.documents(s, d)
      .select(col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg("n_tokens"), 4).as("avg_tokens"),
        round(avg("n_chars"), 4).as("avg_chars"))
      .orderBy("lang")),

    // --- BPE-ish regex token counting (word pieces: letter runs, digit
    //     runs, single punctuation — the subword-tokenizer cost model) ----
    "q_regex_tokens" -> ((s, d) => Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("n_pieces"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"))
      .groupBy("lang")
      .agg(sum("n_pieces").as("total_pieces"),
        sum("n_ws_tokens").as("total_ws_tokens"),
        round(avg("n_pieces"), 4).as("avg_pieces"))
      .orderBy("lang")),

    // --- log-line parsing (the regex-ETL front door: unstructured text
    // → typed columns): Apache-combined-style lines synthesized IN-PLAN
    // from event fields (the q_url_funcs by-construction recipe), then
    // parsed back with one 5-group regexp_extract pattern and rolled up
    // per (method, status). The oracle rebuilds every extracted column
    // from the SAME fields without ever seeing the log line, so any
    // group mis-capture — ip bleeding into the bracket section, path
    // swallowing the protocol, status/bytes transposed — changes the
    // rollup and hash-fails. One scan, codegen'd regex, no shuffle
    // before the bounded (method × status) agg.
    "q_log_parse" -> ((s, d) => {
      val ip = concat(lit("10."), col("user_id") % 240 + 10, lit("."),
        col("user_id") % 97 + 10, lit(".7"))
      val method = when(col("event_type").isin("click", "view"), "GET")
        .otherwise("POST")
      val status = when(col("event_type") === "error", 500).otherwise(200)
      val bytes = floor(col("value") * 100).cast("long") + 200
      val line = concat(ip, lit(" - - [01/Jan/1996:00:00:00 +0000] \""),
        method, lit(" /"), col("event_type"), lit("/"), col("event_id"),
        lit(" HTTP/1.1\" "), status, lit(" "), bytes)
      val pat =
        "^([0-9.]+) - - \\[[^\\]]*\\] \"([A-Z]+) ([^ ]+) HTTP/1\\.1\" ([0-9]{3}) ([0-9]+)$"
      Tables.events(s, d)
        .select(regexp_extract(line, pat, 1).as("ip"),
          regexp_extract(line, pat, 2).as("method"),
          regexp_extract(line, pat, 3).as("path"),
          regexp_extract(line, pat, 4).cast("int").as("status"),
          regexp_extract(line, pat, 5).cast("long").as("bytes"))
        .groupBy("method", "status")
        .agg(count(lit(1)).as("n"), countDistinct(col("ip")).as("n_ips"),
          countDistinct(col("path")).as("n_paths"),
          sum("bytes").as("total_bytes"))
        .orderBy("method", "status")
    }),

    // --- sequence-length bucketing (2j): the packing-prep histogram a
    // batch builder runs before token packing — docs per power-of-2
    // length bucket + packed-sequence estimate at a 4096-token budget.
    // Bucket = smallest 2^k ≥ n via INTEGER bit math (length of the
    // binary string of n−1): exact and engine-identical, where a
    // ceil(log2(n)) in doubles rounds differently across engines at
    // exact powers of two. /4096.0 is exact in binary fp (power-of-two
    // divisor), so the ceil boundary agrees too.
    "q_length_buckets" -> ((s, d) => Tables.documents(s, d)
      .select(size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("bucket",
        when(col("n_tokens") <= 1, 1L)
          .otherwise(expr("shiftleft(1L, length(bin(n_tokens - 1)))")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        ceil(sum("n_tokens") / 4096.0).cast("long").as("est_packs"))
      .orderBy("bucket")),

    // --- TF-IDF: top term per language by tf-idf weight ------------------
    "q_tfidf_top_terms" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tokensDf = docs.select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("term"))
      // total doc count stays a lazy 1-row relation (broadcast), no
      // driver round-trip — the pattern that survives 100 TB
      val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs_total"))
      val tf = tokensDf.groupBy("lang", "term").agg(count(lit(1)).as("tf"))
      val df_ = tokensDf.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val scored = tf.join(df_, "term").crossJoin(broadcast(nDocs))
        .withColumn("tfidf", round(col("tf") * log(col("n_docs_total") / col("df")), 4))
      // argmax via hash-agg + join-back: a max(struct) would force a
      // SortAggregate over EVERY (lang, term) group (struct buffers are
      // not hash-aggregatable); max over a double is a plain hash agg,
      // and only the few tied argmax rows reach the string tie-break
      val best = scored.groupBy("lang").agg(max("tfidf").as("tfidf"))
      scored.join(best, Seq("lang", "tfidf"))
        .groupBy("lang")
        .agg(max("term").as("top_term"), max("tfidf").as("top_tfidf"))
        .orderBy("lang")
    }),

    // --- BM25 top-k retrieval (2j): the lexical-retrieval half of a
    // RAG / data-curation stack (TF-IDF ranks terms; BM25 ranks DOCS for
    // a query). Okapi BM25 with the Lucene idf form,
    //   idf(t)  = ln(1 + (N − df + 0.5)/(df + 0.5))
    //   s(d,t)  = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    // k1=1.2, b=0.75. Scale shape: the query-term filter is a codegen'd
    // isin() on the exploded token stream (at 100 TB this is the posting
    // lists of |Q| terms, not a corpus scan of all terms); df/avgdl/N are
    // term- or 1-row relations joined broadcast; top-k is
    // TakeOrderedAndProject (per-partition heaps, no global sort). The
    // per-doc score sums per-term contributions integer-scaled at 1e6 —
    // exact and associative, so distributed summation order can never
    // flip the rounded output (the q_ccnet_buckets trick) — and the
    // k-cut orders by the rounded score with a doc_id tie-break, so both
    // engines cut the same boundary.
    "q_bm25_topk" -> ((s, d) => {
      val qTerms = Seq("spark", "join", "vector")
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val avgdl = dl.agg((sum("dl").cast("double") / count(lit(1))).as("avgdl"))
      val tf = toks.filter(col("term").isin(qTerms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfq), "term").join(dl, "doc_id")
        .crossJoin(broadcast(nDocs)).crossJoin(broadcast(avgdl))
        .withColumn("c_e6", round(
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
            * (col("tf") * lit(2.2))
            / (col("tf") + lit(1.2) * (lit(0.25) + (lit(0.75) * col("dl")) / col("avgdl")))
            * lit(1e6)).cast("long"))
        .groupBy("doc_id")
        .agg(sum("c_e6").as("s_e6"), count(lit(1)).as("n_terms"))
        .select(col("doc_id"), round(col("s_e6") / lit(1e6), 4).as("bm25"),
          col("n_terms"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    }),

    // --- repetition quality signals (2j): the Gopher-style repeated-
    // n-gram fractions a corpus filter thresholds on — per doc the
    // fraction of bigram occurrences taken by the single most frequent
    // bigram and by ALL bigrams occurring more than once, aggregated per
    // language. Bigrams are 64-bit hashes (equality is all that matters
    // for counting), built by zipping two shifted slices of the token
    // array — the shuffle-free gramHashPostings shape, everything
    // codegen'd. Two hash aggs; linear in tokens, no joins — holds
    // unchanged at 100 TB.
    "q_repetition_signals" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), tokens(col("text")).as("tk"))
      val n = size(col("tk"))
      val bg = base.filter(n >= 2)
        .select(col("doc_id"), col("lang"), explode(arrays_zip(
          slice(col("tk"), lit(1), n - 1).as("t0"),
          slice(col("tk"), lit(2), n - 1).as("t1"))).as("z"))
        .select(col("doc_id"), col("lang"),
          xxhash64(col("z.t0"), col("z.t1")).as("bh"))
      val perDoc = bg.groupBy("doc_id", "lang", "bh")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "lang")
        .agg(sum("c").as("n_bigrams"), max("c").as("top_c"),
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_c"))
      perDoc.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("top_c").cast("double") / col("n_bigrams")), 4)
            .as("avg_top_bigram_frac"),
          round(avg(col("dup_c").cast("double") / col("n_bigrams")), 4)
            .as("avg_dup_bigram_frac"),
          round(max(col("dup_c").cast("double") / col("n_bigrams")), 4)
            .as("max_dup_bigram_frac"))
        .orderBy("lang")
    }),

    // --- context-window chunking (2j): split each document into
    // ≤64-token training chunks with a 16-token overlap (stride 48) —
    // the step that turns a variable-length corpus into model inputs.
    // One generator (`sequence` start offsets + explode) and a codegen'd
    // slice/join/md5 per chunk: embarrassingly parallel, no shuffle at
    // all before the output sort. Chunks are emitted as md5 digests so
    // the oracle can verify CONTENT, not just counts. A doc shorter than
    // one window yields exactly one (possibly short) chunk.
    "q_doc_chunks" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
      // starts 0, 48, 96, … covering every token: last start ≤
      // max(n−17, 0) (inclusive sequence() twin of the oracle's
      // end-exclusive range(0, max(n−16, 1), 48))
      toks.select(col("doc_id"), col("n_tok"), col("tk"),
          explode(sequence(lit(0L),
            greatest(col("n_tok") - 17, lit(0L)), lit(48L))).as("start"))
        .select(col("doc_id"),
          (col("start") / 48).cast("long").as("chunk_idx"),
          least(lit(64L), col("n_tok") - col("start")).as("chunk_len"),
          md5(array_join(
            slice(col("tk"), (col("start") + 1).cast("int"), lit(64)), " "))
            .as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // --- sequence packing (2j): next-fit pack documents into 512-token
    // training sequences, per source shard in doc_id order — the batch
    // builder that follows q_length_buckets' estimate. The corpus is
    // hash-partitioned on the shard key (`source`) and sorted within
    // partitions, then each partition is packed in ONE sequential pass
    // (mapPartitions with a running fill that resets on shard change) —
    // packing is embarrassingly parallel ACROSS shards and inherently
    // sequential WITHIN one, so this is exactly the 100 TB layout: the
    // shard key is the OUTPUT unit (a training-data build writes
    // thousands of shards, so parallelism scales with the corpus — if a
    // single logical source outgrows one task, sub-shard on
    // (source, doc_id div N) and the per-shard contract is unchanged).
    // No driver state, no all-to-all. A doc
    // larger than the budget gets a pack of its own (next-fit
    // semantics; the oracle's recursive CTE mirrors this).
    // Implemented as the custom whole-operator [[graft.operators.NextFitPack]]
    // (LogicalPlan + Strategy + SparkPlan): the operator DECLARES
    // "clustered by source, sorted by (source, doc_id)" as child
    // requirements, so EnsureRequirements plans the exchange+sort here —
    // and plans NOTHING when the input is already bucketed/sorted on the
    // shard key (PackExecSpec pins both shapes). The packing pass itself
    // is one sequential scan with O(1) state per partition.
    "q_seq_packing" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
      graft.operators.PackOps.nextFitPack(docs, "source", "doc_id", "n_tok", 512L)
        .groupBy("source", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("pack_tokens"))
        .orderBy("source", "pack_id")
    }),

    // --- exact substring dedup (2j, suffix-array-family): every maximal
    // shared token span of ≥ 20 tokens between document pairs — the
    // Lee-et-al-style exact-substring detector, reformulated for Spark:
    // (1) positional 20-token rolling-window hashes per doc (codegen'd,
    // shuffle-free); (2) equi-join on the window hash — at W=20 only
    // true shared text collides, so the join is linear in real overlap,
    // never hot-key-quadratic; (3) consecutive matches on the same
    // DIAGONAL (pos_a − pos_b) merge into maximal spans by
    // gaps-and-islands; span length = run + W − 1 tokens. Reports per
    // pair the span count, longest span and total shared-span tokens —
    // the fields a dedup policy thresholds on.
    "q_substring_dedup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = 20
      val wins = windowHashPostings(Tables.documents(s, d), w)
      val a = wins.toDF("id_a", "pos_a", "wh")
      val b = wins.toDF("id_b", "pos_b", "wh")
      val m = a.join(b, Seq("wh")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("pos_a"),
          (col("pos_a") - col("pos_b")).as("diag"))
      val runs = m.withColumn("grp", col("pos_a") - row_number().over(
        Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")))
      runs.groupBy("id_a", "id_b", "diag", "grp")
        .agg((count(lit(1)) + (w - 1)).as("span_tokens"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("n_spans"),
          max("span_tokens").as("max_span_tokens"),
          sum("span_tokens").as("total_span_tokens"))
        .orderBy("id_a", "id_b")
    }),

    // --- substring-dedup SCRUB (2j): act on the detected spans — the
    // keep-first policy removes every shared ≥20-token span from the
    // HIGHER-id doc of each pair. Ranges from different pairs can
    // overlap, so they are interval-merged per doc (gaps-and-islands on
    // a running max-end window) before counting; output is the per-doc
    // removal accounting (tokens before / removed / after) a corpus
    // build logs. Same linear window-hash join as q_substring_dedup;
    // the merge adds one window pass over the (tiny) range set.
    "q_span_scrub" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = 20
      val docs = Tables.documents(s, d)
      val wins = windowHashPostings(docs, w)
      val a = wins.toDF("id_a", "pos_a", "wh")
      val b = wins.toDF("id_b", "pos_b", "wh")
      val m = a.join(b, Seq("wh")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("pos_b"),
          (col("pos_a") - col("pos_b")).as("diag"))
      val runs = m.withColumn("grp", col("pos_b") - row_number().over(
        Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_b")))
      val ranges = runs.groupBy("id_a", "id_b", "diag", "grp")
        .agg(min("pos_b").as("st"), (max("pos_b") + (w - 1)).as("en"))
        .select(col("id_b").as("doc_id"), col("st"), col("en"))
        .distinct()
      val or = Window.partitionBy("doc_id").orderBy("st", "en")
      val islands = ranges
        .withColumn("prev_max", max("en").over(
          or.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_island",
          when(col("prev_max").isNull || col("st") > col("prev_max"), 1L)
            .otherwise(0L))
        .withColumn("island", sum("new_island").over(
          or.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "island")
        .agg(min("st").as("ist"), max("en").as("ien"))
      val removed = islands.groupBy("doc_id")
        .agg(count(lit(1)).as("n_ranges"),
          sum(col("ien") - col("ist") + 1).as("tokens_removed"))
      docs.select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens_before"))
        .join(removed, "doc_id")
        .select(col("doc_id"), col("n_ranges"), col("n_tokens_before"),
          col("tokens_removed"),
          (col("n_tokens_before") - col("tokens_removed")).as("n_tokens_after"))
        .orderBy("doc_id")
    }),

    // --- near-dup cluster formation (2j): connected components over the
    // exact Jaccard ≥ 0.8 pair graph — the step after pair detection
    // that picks ONE canonical doc per duplicate GROUP (pairwise dedup
    // alone double-drops transitive chains A~B~C). Iterative min-label
    // propagation to a fixpoint: each round every node takes the min
    // cluster id among itself and its neighbors — the standard
    // distributed CC loop (GraphX/large-star shape; converges in graph-
    // diameter rounds, and near-dup clusters are shallow by nature).
    // The pair set comes pre-materialized from [[jaccardPairsShared]]
    // (it is tiny relative to the corpus — the whole point of dedup), so
    // the per-round join touches only edges × labels, never documents;
    // each round's labels are checkpointed to keep lineage flat. The
    // per-round driver action is the convergence test — the same loop a
    // 1000-executor job runs.
    "q_dedup_clusters" -> ((s, d) =>
      ccLabelsShared(s, d)
        .groupBy(col("cluster").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"), max("node").as("max_member"))
        .orderBy("cluster_id")),

    // --- BFS hop distances over the near-dup pair graph, from the
    // smallest node id (deterministic seed): the reachability question a
    // takedown/contagion audit asks — "everything within k hops of this
    // document". Level-synchronous frontier expansion (the distributed
    // BFS): each round is ONE equi-join frontier⋈edges + an anti-join
    // against the visited set, so round h touches only hop-h edges; the
    // cap (6) bounds the audit radius, and min-distance is by
    // construction (a node joins the visited set at its FIRST layer).
    // The oracle replays it as a bounded recursive CTE with min(dist).
    "q_bfs_distance" -> ((s, d) => {
      val pairs = chainUnionPairs(s, d)
      val edges = pairs.toDF("a", "b")
        .union(pairs.select(col("id_b"), col("id_a"))).localCheckpoint()
      val seedId = edges.agg(min("a")).collect()(0).getLong(0)
      var visited = edges.sparkSession.range(1)
        .select(lit(seedId).as("node"), lit(0).as("dist")).localCheckpoint()
      var frontier = visited.select("node")
      var h = 1
      while (h <= 6 && !frontier.isEmpty) {
        val next = frontier.join(edges, col("node") === col("a"))
          .select(col("b").as("node")).distinct()
          .join(visited.select("node"), Seq("node"), "left_anti")
          .withColumn("dist", lit(h)).localCheckpoint()
        visited = visited.unionAll(next).localCheckpoint()
        frontier = next.select("node")
        h += 1
      }
      visited.orderBy("node")
    }),

    // --- triangle count over the near-dup pair graph — the graph
    // statistic that separates CLIQUE-like duplicate clusters (every
    // member pairwise-similar: transitive duplication, safe to collapse
    // to one canonical) from CHAIN-like ones (a-b-c without a-c:
    // drifted versions where collapsing loses content). Node-iterator
    // with DEGREE ORDERING, the standard distributed formulation: every
    // edge is oriented low≺high by (degree, id), so wedges are
    // enumerated only from each triangle's smallest-degree vertex —
    // out-degrees are bounded by O(√m) on any graph, capping the wedge
    // blow-up a hub vertex causes under naive id-ordering (at 100 TB a
    // boilerplate-text hub with 10⁶ neighbors would otherwise emit
    // 10¹² wedges; degree-ordering caps it at its out-neighborhood).
    // Two self-joins on the bounded pair graph, nothing touches
    // documents; the oracle counts by plain id-order — any consistent
    // total order counts each triangle exactly once, so the two
    // formulations must agree to the row.
    "q_triangle_count" -> ((s, d) => {
      val pairs = jaccardPairsShared(s, d).select("id_a", "id_b")
      val deg = pairs.select(col("id_a").as("n"))
        .unionAll(pairs.select(col("id_b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val oriented = pairs
        .join(deg.select(col("n").as("id_a"), col("deg").as("da")), "id_a")
        .join(deg.select(col("n").as("id_b"), col("deg").as("db")), "id_b")
        .select(
          when(col("da") < col("db") ||
               (col("da") === col("db") && col("id_a") < col("id_b")),
            struct(col("id_a").as("u"), col("id_b").as("v"), col("db").as("dv")))
          .otherwise(
            struct(col("id_b").as("u"), col("id_a").as("v"), col("da").as("dv")))
          .as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
        .localCheckpoint()
      val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.u") === col("e2.u") &&
          (col("e1.dv") < col("e2.dv") ||
           (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))))
        .select(col("e1.v").as("b"), col("e2.v").as("c"))
      // the wedge has b ≺ c, and oriented stores every edge as u ≺ v —
      // so the closing edge can only appear as (b, c); one equi-join
      val tri = wedges
        .join(oriented.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
        .agg(count(lit(1)).as("n_triangles"))
      val nn = deg.agg(count(lit(1)).as("n_nodes"))
      val ne = pairs.agg(count(lit(1)).as("n_edges"))
      nn.crossJoin(ne).crossJoin(tri)
    }),

    // --- Adamic–Adar link prediction (Adamic & Adar, Social Networks
    // 2003) over the near-dup pair graph: score NON-edges by their
    // common neighbors, each weighted 1/ln(deg) — the "which drifted
    // versions are probably the same lineage" signal a dedup pipeline
    // uses to pre-rank candidate pairs for expensive verification. The
    // planted drift chain supplies the open wedges (the organic graph
    // is closed cliques at every gate scale — distance-2 chain pairs
    // are exactly the AA candidates); a common neighbor structurally
    // has deg ≥ 2, so ln(deg) > 0 and no division guard is needed.
    // Scale shape: wedge enumeration is the standard Θ(Σ deg(z)²) —
    // bounded here by the HUB CAP (deg ≤ 64, applied to the adjacency
    // BEFORE the self-join and mirrored in the oracle): a 10⁶-neighbor
    // boilerplate hub would otherwise emit 10¹² wedges for
    // contributions AA weights down to 1/ln(10⁶) anyway. Everything
    // runs on the bounded pair graph — documents are never touched.
    "q_adamic_adar" -> ((s, d) => {
      val pairs = chainUnionPairs(s, d)
      val adj = pairs.select(col("id_a").as("z"), col("id_b").as("x"))
        .unionAll(pairs.select(col("id_b").as("z"), col("id_a").as("x")))
      val deg = adj.groupBy("z").agg(count(lit(1)).as("dg"))
        .filter(col("dg") <= 64)
      val adjB = adj.join(deg, "z")
      val wedges = adjB.as("a1").join(adjB.as("a2"),
          col("a1.z") === col("a2.z") && col("a1.x") < col("a2.x"))
        .select(col("a1.x").as("a"), col("a2.x").as("b"),
          col("a1.dg").as("dg"))
      wedges
        .join(pairs.select(col("id_a").as("a"), col("id_b").as("b")),
          Seq("a", "b"), "left_anti")
        .groupBy("a", "b")
        .agg(count(lit(1)).as("common_neighbors"),
          round(sum(lit(1.0) / log(col("dg").cast("double"))), 4)
            .as("aa_score"))
        .orderBy(desc("aa_score"), col("a"), col("b"))
        .limit(20)
    }),

    // --- cluster-aware canonical selection (2j): the step AFTER
    // cluster formation — per near-dup cluster keep the most
    // informative member (max token count, min-id tie-break) rather
    // than the arbitrary min id, with the dedup-savings accounting
    // (tokens kept vs dropped) a curation report needs. Argmax is two
    // bounded HASH aggs (per-cluster max then the tie set's min id) —
    // never a max_by/struct-min (SortAggregate) and never a per-cluster
    // sort; members = the shared label relation joined to one bounded
    // per-doc token count. Everything downstream of the pair graph
    // touches only cluster members — tiny relative to the corpus.
    "q_cluster_canonical" -> ((s, d) => {
      val tc = Tables.documents(s, d)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      val mem = ccLabelsShared(s, d)
        .join(tc, col("node") === col("doc_id"))
        .select(col("cluster").as("cluster_id"), col("node"), col("n_tokens"))
      val mx = mem.groupBy("cluster_id")
        .agg(max("n_tokens").as("kept_tokens"), count(lit(1)).as("n_members"),
          sum("n_tokens").as("tot"))
      val keep = mem.join(mx.select("cluster_id", "kept_tokens"), "cluster_id")
        .filter(col("n_tokens") === col("kept_tokens"))
        .groupBy("cluster_id").agg(min("node").as("keep_id"))
      mx.join(keep, "cluster_id")
        .select(col("cluster_id"), col("keep_id"), col("n_members"),
          col("kept_tokens"), (col("tot") - col("kept_tokens")).as("dropped_tokens"))
        .orderBy("cluster_id")
    }),

    // --- Zipf's-law fit: log-log linear regression of frequency on
    // rank over the top-100 vocabulary — the one-number corpus health
    // check (natural text slopes ≈ −1; a pile of boilerplate or
    // generated spam doesn't). The corpus-sized work is one word-count
    // hash agg; the top-100 cut is a bounded TakeOrdered (never a full
    // vocab sort shuffled to one task), and the regression runs over
    // exactly 100 rows. regr_slope/intercept/r2 are second-moment
    // aggregates — partial+final, O(1) state.
    "q_zipf_fit" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val top = Tables.documents(s, d)
        .select(explode(graft.functions.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(100)
      top
        .withColumn("rank",
          row_number().over(Window.orderBy(col("cnt").desc, col("word"))))
        .agg(count(lit(1)).as("n_terms"),
          round(expr("regr_slope(ln(cnt), ln(rank))"), 4).as("zipf_slope"),
          round(expr("regr_intercept(ln(cnt), ln(rank))"), 4).as("zipf_intercept"),
          round(expr("regr_r2(ln(cnt), ln(rank))"), 4).as("zipf_r2"))
    }))

  val oracleSql: Map[String, String] = Map(
    "q_zipf_fit" ->
      """WITH counts AS (
        |  SELECT t AS word, count(*) AS cnt
        |  FROM (SELECT unnest(list_filter(string_split(lower(text), ' '),
        |                                  t -> t <> '')) AS t
        |        FROM documents)
        |  GROUP BY 1),
        |top AS (
        |  SELECT cnt,
        |    row_number() OVER (ORDER BY cnt DESC, word) AS rank
        |  FROM counts ORDER BY cnt DESC, word LIMIT 100)
        |SELECT count(*) AS n_terms,
        |  round(regr_slope(ln(cnt), ln(rank)), 4) AS zipf_slope,
        |  round(regr_intercept(ln(cnt), ln(rank)), 4) AS zipf_intercept,
        |  round(regr_r2(ln(cnt), ln(rank)), 4) AS zipf_r2
        |FROM top""".stripMargin,
    "q_lm_backoff" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents),
        |t3 AS (
        |  SELECT doc_id,
        |    unnest([{'g3': tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2],
        |             'c12': tk[i] || ' ' || tk[i+1],
        |             'g23': tk[i+1] || ' ' || tk[i+2],
        |             'w2': tk[i+1], 'w3': tk[i+2]}
        |      FOR i IN range(1, len(tk) - 1)]) AS s
        |  FROM toks),
        |tg AS (SELECT doc_id, s.g3 AS g3, s.c12 AS ctx12, s.g23 AS g23,
        |         s.w2 AS w2, s.w3 AS w3 FROM t3),
        |train3 AS (SELECT g3, count(*) AS c3 FROM tg
        |           WHERE doc_id % 5 <> 0 GROUP BY 1),
        |b2 AS (SELECT unnest([tk[i] || ' ' || tk[i+1]
        |         FOR i IN range(1, len(tk))]) AS g2
        |       FROM toks WHERE doc_id % 5 <> 0),
        |train2 AS (SELECT g2, count(*) AS c2 FROM b2 GROUP BY 1),
        |u1 AS (SELECT unnest(tk) AS w FROM toks WHERE doc_id % 5 <> 0),
        |train1 AS (SELECT w, count(*) AS c1 FROM u1 GROUP BY 1),
        |n AS (SELECT count(*) AS n_tok FROM u1),
        |sc AS (
        |  SELECT tg.doc_id,
        |    CASE WHEN c3.c3 IS NOT NULL THEN ln(c3.c3::DOUBLE / cc.c2)
        |         WHEN cb.c2 IS NOT NULL THEN ln(0.4 * cb.c2 / cw2.c1)
        |         ELSE ln(0.16 * coalesce(cw3.c1, 1) / n.n_tok) END AS lp,
        |    CASE WHEN c3.c3 IS NOT NULL THEN 1 ELSE 0 END AS hit3,
        |    CASE WHEN c3.c3 IS NULL AND cb.c2 IS NOT NULL
        |         THEN 1 ELSE 0 END AS hit2,
        |    CASE WHEN c3.c3 IS NULL AND cb.c2 IS NULL
        |         THEN 1 ELSE 0 END AS hit1
        |  FROM tg
        |  LEFT JOIN train3 c3 USING (g3)
        |  LEFT JOIN train2 cc ON tg.ctx12 = cc.g2
        |  LEFT JOIN train2 cb ON tg.g23 = cb.g2
        |  LEFT JOIN train1 cw2 ON tg.w2 = cw2.w
        |  LEFT JOIN train1 cw3 ON tg.w3 = cw3.w
        |  CROSS JOIN n
        |  WHERE tg.doc_id % 5 = 0)
        |SELECT doc_id, count(*) AS n_trigrams,
        |  sum(hit3)::BIGINT AS n_tri_hits,
        |  sum(hit2)::BIGINT AS n_bi_backoffs,
        |  sum(hit1)::BIGINT AS n_uni_backoffs,
        |  round(avg(lp), 4) AS avg_logp
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest([{'g': tk[i] || ' ' || tk[i+1], 'l': tk[i]}
        |      FOR i IN range(1, len(tk))]) AS s
        |  FROM toks),
        |b AS (SELECT doc_id, s.g AS gram, s.l AS left_ FROM bg),
        |cg AS (SELECT gram, count(*) AS c FROM b GROUP BY 1),
        |cl AS (SELECT left_, count(*) AS m FROM b GROUP BY 1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(avg(ln(c::DOUBLE / m)), 4) AS avg_logp,
        |  round(exp(-avg(ln(c::DOUBLE / m))), 4) AS ppl
        |FROM b JOIN cg USING (gram) JOIN cl USING (left_)
        |WHERE doc_id % 7 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ccnet_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest([{'g': tk[i] || ' ' || tk[i+1], 'l': tk[i]}
        |      FOR i IN range(1, len(tk))]) AS s
        |  FROM toks),
        |b AS (SELECT doc_id, s.g AS gram, s.l AS left_ FROM bg),
        |cg AS (SELECT gram, count(*) AS c FROM b GROUP BY 1),
        |cl AS (SELECT left_, count(*) AS m FROM b GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, round(exp(-avg(ln(c::DOUBLE / m))), 4) AS ppl
        |  FROM b JOIN cg USING (gram) JOIN cl USING (left_)
        |  GROUP BY 1),
        |lb AS (
        |  SELECT d.lang, s.doc_id, s.ppl,
        |    ntile(3) OVER (PARTITION BY d.lang ORDER BY s.ppl, s.doc_id)
        |      AS bucket
        |  FROM scored s JOIN documents d USING (doc_id))
        |SELECT lang, bucket, count(*) AS n_docs,
        |  round(sum(round(ppl * 10000)::BIGINT)::BIGINT / 10000.0 / count(*), 4)
        |    AS avg_ppl
        |FROM lb GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_trigram_topk" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT unnest([
        |    {'pos': i - 1, 'gram': tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]}
        |    FOR i IN range(1, len(tk) - 1)]) AS s
        |  FROM toks WHERE len(tk) >= 3)
        |SELECT s.gram AS gram, count(*) AS n,
        |  round(avg(s.pos), 4) AS avg_pos
        |FROM g GROUP BY 1 ORDER BY n DESC, gram LIMIT 15""".stripMargin,

    // banding proposes, exact verify disposes → the output IS the exact
    // Jaccard ≥ 0.8 pair set (see the query comment for the collision
    // probability argument), so the oracle is the same all-pairs ground
    // truth as q_ngram_jaccard — any banding miss fails the gate
    "q_minhash_neardup" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct([
        |    array_to_string(toks[i:i+2], ' ')
        |    FOR i IN range(1, greatest(len(toks) - 1, 2))
        |  ]) AS grams
        |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                                   t -> t <> '') AS toks
        |        FROM documents)
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |        len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE, 4) AS jaccard,
        |  0::BIGINT AS overflow_buckets
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |      len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE, 4) >= 0.8
        |ORDER BY 1, 2""".stripMargin,

    // the candidate set is hash-only (xxhash bands aren't SQL-
    // expressible); the oracle computes the exact-pair count the recall
    // is measured against and pins the recall contract (hll_ok trick)
    "q_minhash_recall" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct([
        |    array_to_string(toks[i:i+2], ' ')
        |    FOR i IN range(1, greatest(len(toks) - 1, 2))
        |  ]) AS grams
        |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                                   t -> t <> '') AS toks
        |        FROM documents)
        |),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |        len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE, 4) >= 0.8)
        |SELECT 'minhash_b8r2' AS method, count(*) AS n_exact, true AS recall_ok,
        |  0::BIGINT AS overflow_buckets
        |FROM pairs""".stripMargin,

    "q_ppl_contrast" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest([{'g': tk[i] || ' ' || tk[i+1], 'l': tk[i]}
        |      FOR i IN range(1, len(tk))]) AS s
        |  FROM toks),
        |b AS (SELECT doc_id, s.g AS gram, s.l AS left_ FROM bg),
        |bref AS (SELECT b.* FROM b JOIN documents d USING (doc_id)
        |         WHERE d.lang = 'en'),
        |cgr AS (SELECT gram, count(*) AS c_ref FROM bref GROUP BY 1),
        |clr AS (SELECT left_, count(*) AS m_ref FROM bref GROUP BY 1),
        |cgg AS (SELECT gram, count(*) AS c_gen FROM b GROUP BY 1),
        |clg AS (SELECT left_, count(*) AS m_gen FROM b GROUP BY 1),
        |scored AS (
        |  SELECT doc_id,
        |    round(exp(-(sum(round(ln(c_ref::DOUBLE / m_ref) * 1e6)::BIGINT)::BIGINT
        |      / 1e6) / count(*)), 4) AS ppl_ref,
        |    round(exp(-(sum(round(ln(c_gen::DOUBLE / m_gen) * 1e6)::BIGINT)::BIGINT
        |      / 1e6) / count(*)), 4) AS ppl_gen
        |  FROM b JOIN cgg USING (gram) JOIN clg USING (left_)
        |         JOIN cgr USING (gram) JOIN clr USING (left_)
        |  GROUP BY 1)
        |SELECT lang, count(*) AS n_scored,
        |  sum(CASE WHEN ppl_ref < ppl_gen THEN 1 ELSE 0 END)::BIGINT AS n_keep,
        |  round(sum(round(ppl_ref * 10000)::BIGINT)::BIGINT / 10000.0 / count(*), 4)
        |    AS avg_ppl_ref,
        |  round(sum(round(ppl_gen * 10000)::BIGINT)::BIGINT / 10000.0 / count(*), 4)
        |    AS avg_ppl_gen
        |FROM scored JOIN documents USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // containment vs the benchmark set: all-pairs in the oracle (fine at
    // gate scale), inverted-index in Spark — any pruning miss fails here
    "q_contamination" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct([
        |    array_to_string(toks[i:i+2], ' ')
        |    FOR i IN range(1, greatest(len(toks) - 1, 2))
        |  ]) AS grams
        |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                                   t -> t <> '') AS toks
        |        FROM documents)
        |),
        |b AS (SELECT doc_id AS bench_id, grams FROM sh WHERE doc_id % 20 = 0),
        |t AS (SELECT doc_id AS train_id, grams FROM sh WHERE doc_id % 20 <> 0)
        |SELECT t.train_id, b.bench_id,
        |  round(len(list_intersect(t.grams, b.grams))::DOUBLE
        |        / len(b.grams)::DOUBLE, 4) AS coverage
        |FROM t, b
        |WHERE round(len(list_intersect(t.grams, b.grams))::DOUBLE
        |      / len(b.grams)::DOUBLE, 4) >= 0.5
        |ORDER BY 1, 2""".stripMargin,

    // simhash guarantee row (bits not SQL-expressible; the contract is)
    "q_simhash_neardup" ->
      """SELECT 'simhash' AS method, 3 AS max_hamming,
        |  true AS blocking_complete, true AS planted_pair_found,
        |  true AS neg_rejected, true AS pairs_vocab_ok,
        |  0::BIGINT AS overflow_buckets""".stripMargin,

    "q_stratified_sample" ->
      """SELECT event_type, n_sampled, n_total FROM
        |  (SELECT event_type, count(*) AS n_sampled FROM events
        |   WHERE CASE event_type
        |     WHEN 'click' THEN substr(md5(event_id::VARCHAR), 1, 4) < '1999'
        |     WHEN 'view'  THEN substr(md5(event_id::VARCHAR), 1, 4) < '0ccc'
        |     WHEN 'error' THEN substr(md5(event_id::VARCHAR), 1, 4) < '8000'
        |     ELSE true END
        |   GROUP BY 1) s
        |JOIN (SELECT event_type, count(*) AS n_total FROM events GROUP BY 1) t
        |  USING (event_type)
        |ORDER BY event_type""".stripMargin,

    "q_doc_fingerprint" ->
      s"""SELECT min(doc_id) AS first_id, count(*) AS n
        |FROM (SELECT doc_id,
        |        array_to_string(list_filter(string_split(lower(text), ' '),
        |                                    t -> t <> ''), ' ') AS norm
        |      FROM (SELECT doc_id, text FROM documents
        |            UNION ALL ${plantedValuesSql(plantedFpDocs)}))
        |GROUP BY norm HAVING count(*) > 1
        |ORDER BY first_id""".stripMargin,

    "q_tfidf_top_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT lang, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |nd AS (SELECT count(*)::DOUBLE AS n_docs_total FROM documents),
        |scored AS (
        |  SELECT lang, term, round(tf * ln(n_docs_total / df), 4) AS tfidf
        |  FROM tf JOIN dfq USING (term), nd),
        |best AS (SELECT lang, max(tfidf) AS tfidf FROM scored GROUP BY 1)
        |SELECT lang, max(term) AS top_term, max(tfidf) AS top_tfidf
        |FROM scored JOIN best USING (lang, tfidf)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_bm25_topk" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        |ad AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('spark', 'join', 'vector') GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |contrib AS (
        |  SELECT doc_id,
        |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |          * (tf * 2.2)
        |          / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))
        |          * 1e6)::BIGINT AS c_e6
        |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), nd, ad)
        |SELECT doc_id, round(sum(c_e6) / 1e6, 4) AS bm25, count(*) AS n_terms
        |FROM contrib GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    "q_dedup_exact" ->
      """SELECT lang, count(DISTINCT text) AS n_unique, count(*) AS n_total
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dedup_canonical" ->
      s"""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL ${plantedValuesSql(plantedDupDocs)})
        |GROUP BY text HAVING count(*) > 1
        |ORDER BY keep_id""".stripMargin,

    "q_line_dedup" ->
      s"""WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL ${plantedValuesSql(plantedLineDocs)}),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM docs),
        |ch AS (
        |  SELECT doc_id, g.i AS chunk_id,
        |    array_to_string(words[(g.i*10+1):(g.i*10+10)], ' ') AS chunk
        |  FROM w, LATERAL (SELECT unnest(range(
        |    CAST(ceil(len(words) / 10.0) AS BIGINT))) AS i) g),
        |boiler AS (
        |  SELECT chunk FROM ch
        |  WHERE len(string_split(chunk, ' ')) = 10
        |  GROUP BY chunk HAVING count(DISTINCT doc_id) >= 3)
        |SELECT doc_id,
        |  coalesce(string_agg(chunk, ' ' ORDER BY chunk_id)
        |    FILTER (WHERE chunk NOT IN (SELECT chunk FROM boiler)), '')
        |    AS clean_text,
        |  sum(CASE WHEN chunk IN (SELECT chunk FROM boiler)
        |      THEN 1 ELSE 0 END)::BIGINT AS n_removed
        |FROM ch
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q_pipeline_e2e" ->
      """WITH canon AS (
        |  SELECT d.doc_id, d.lang, d.text
        |  FROM documents d
        |  JOIN (SELECT text, min(doc_id) AS doc_id
        |        FROM documents GROUP BY text) k
        |    ON d.doc_id = k.doc_id),
        |scored AS (
        |  SELECT lang,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    round(len(list_distinct(string_split(text, ' ')))::DOUBLE
        |      / len(string_split(text, ' '))::DOUBLE, 4) AS uniq_ratio
        |  FROM canon)
        |SELECT lang, count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
        |  round(avg(n_tokens), 4) AS avg_tokens
        |FROM scored WHERE n_tokens >= 20 AND uniq_ratio >= 0.3
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ngram_jaccard_prefix" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct([
        |    array_to_string(toks[i:i+2], ' ')
        |    FOR i IN range(1, greatest(len(toks) - 1, 2))
        |  ]) AS grams
        |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                                   t -> t <> '') AS toks
        |        FROM documents)
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |        len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE, 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |      len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE, 4) >= 0.8
        |ORDER BY 1, 2""".stripMargin,

    // hot_grams mirrors the engine's common-gram accounting: DuckDB
    // recomputes the df > 64 gram count from scratch, so the engine
    // can neither miscount nor silently drop a gram that matters (a
    // triggered drop would diverge the jaccard values and hash-fail)
    "q_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct([
        |    array_to_string(toks[i:i+2], ' ')
        |    FOR i IN range(1, greatest(len(toks) - 1, 2))
        |  ]) AS grams
        |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                                   t -> t <> '') AS toks
        |        FROM documents)
        |),
        |hot AS (
        |  SELECT count(*) AS hot_grams FROM (
        |    SELECT u.g FROM sh, unnest(grams) AS u(g)
        |    GROUP BY u.g HAVING count(*) > 64))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |        len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE, 4) AS jaccard,
        |  (SELECT hot_grams FROM hot) AS hot_grams
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |      len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE, 4) >= 0.8
        |ORDER BY 1, 2""".stripMargin,

    // probes derived from the same ≥50-token prefix rule; the WHERE
    // repeats the rounded expressions so the filter matches Spark's
    "q_containment_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 9300001,
        |    array_to_string(string_split(text, ' ')[1:20], ' ')
        |  FROM documents
        |  WHERE doc_id < 20 AND len(string_split(text, ' ')) >= 50),
        |sh AS (
        |  SELECT doc_id, list_distinct([
        |    array_to_string(toks[i:i+2], ' ')
        |    FOR i IN range(1, greatest(len(toks) - 1, 2))
        |  ]) AS grams
        |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                                   t -> t <> '') AS toks
        |        FROM docs)),
        |hot AS (
        |  SELECT count(*) AS hot_grams FROM (
        |    SELECT u.g FROM sh, unnest(grams) AS u(g)
        |    GROUP BY u.g HAVING count(*) > 64))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |        least(len(a.grams), len(b.grams))::DOUBLE, 4)
        |    AS containment,
        |  round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |        len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE,
        |        4) AS jaccard,
        |  (SELECT hot_grams FROM hot) AS hot_grams
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |        least(len(a.grams), len(b.grams))::DOUBLE, 4) >= 0.9
        |  AND round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |        len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE,
        |        4) < 0.8
        |ORDER BY 1, 2""".stripMargin,

    "q_dedup_incremental" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct([
        |    array_to_string(toks[i:i+2], ' ')
        |    FOR i IN range(1, greatest(len(toks) - 1, 2))
        |  ]) AS grams
        |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                                   t -> t <> '') AS toks
        |        FROM documents)),
        |dd AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
        |bb AS (SELECT * FROM sh WHERE doc_id % 10 <> 0),
        |pairs AS (
        |  SELECT dd.doc_id AS id_d, bb.doc_id AS id_b,
        |    round(len(list_intersect(dd.grams, bb.grams))::DOUBLE /
        |          len(list_distinct(list_concat(dd.grams, bb.grams)))::DOUBLE, 4)
        |      AS jac
        |  FROM dd JOIN bb ON len(list_intersect(dd.grams, bb.grams)) >= 1),
        |best AS (SELECT id_d, max(jac) AS best_jac FROM pairs GROUP BY 1),
        |bid AS (
        |  SELECT p.id_d, b.best_jac, min(p.id_b) AS best_base
        |  FROM pairs p JOIN best b ON p.id_d = b.id_d AND p.jac = b.best_jac
        |  GROUP BY 1, 2)
        |SELECT d.doc_id,
        |  CASE WHEN best_jac >= 0.8 THEN 'dup' ELSE 'new' END AS status,
        |  best_jac, best_base
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
        |LEFT JOIN bid ON d.doc_id = bid.id_d
        |ORDER BY d.doc_id""".stripMargin,

    "q_classifier_eval" ->
      """WITH scored AS (
        |  SELECT (lang = 'en')::INT AS actual,
        |    (round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      len(list_filter(toks,
        |        t -> t IN ('the','a','of','and','to','in','is')))::DOUBLE
        |        / len(toks)::DOUBLE END, 4) >= 0.05)::INT AS pred
        |  FROM (SELECT lang,
        |          list_filter(string_split(lower(text), ' '), t -> t <> '')
        |            AS toks
        |        FROM documents)),
        |c AS (
        |  SELECT
        |    sum(CASE WHEN actual = 1 AND pred = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
        |    sum(CASE WHEN actual = 0 AND pred = 1 THEN 1 ELSE 0 END)::BIGINT AS fp,
        |    sum(CASE WHEN actual = 1 AND pred = 0 THEN 1 ELSE 0 END)::BIGINT AS fn,
        |    sum(CASE WHEN actual = 0 AND pred = 0 THEN 1 ELSE 0 END)::BIGINT AS tn
        |  FROM scored)
        |SELECT tp, fp, fn, tn,
        |  CASE WHEN tp + fp > 0
        |    THEN round(tp::DOUBLE / (tp + fp), 4) END AS precision,
        |  CASE WHEN tp + fn > 0
        |    THEN round(tp::DOUBLE / (tp + fn), 4) END AS recall,
        |  CASE WHEN tp * 2 + fp + fn > 0
        |    THEN round(tp * 2::DOUBLE / (tp * 2 + fp + fn), 4) END AS f1,
        |  round((tp + tn)::DOUBLE / (tp + fp + fn + tn), 4) AS accuracy
        |FROM c""".stripMargin,

    "q_lang_id" ->
      """SELECT doc_id, lang, en_score, (en_score >= 0.05)::INT AS pred_en
        |FROM (
        |  SELECT doc_id, lang,
        |    round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is')))::DOUBLE
        |        / len(toks)::DOUBLE END, 4) AS en_score
        |  FROM (SELECT doc_id, lang,
        |          list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
        |        FROM documents))
        |ORDER BY doc_id LIMIT 300""".stripMargin,

    // the three channel formulas verbatim from q_quality_score /
    // q_lang_id plus the avg-token-length gibberish guard
    "q_quality_ensemble" ->
      """SELECT doc_id, v_len, v_lang, v_shape,
        |  (v_len + v_lang + v_shape) AS votes,
        |  (v_len + v_lang + v_shape >= 2) AS keep
        |FROM (
        |  SELECT doc_id,
        |    (len(raw)::BIGINT >= 20 AND
        |     round(len(list_distinct(raw))::DOUBLE / len(raw)::DOUBLE, 4)
        |       >= 0.3)::INT AS v_len,
        |    (round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      len(list_filter(toks,
        |        t -> t IN ('the','a','of','and','to','in','is')))::DOUBLE
        |        / len(toks)::DOUBLE END, 4) >= 0.05)::INT AS v_lang,
        |    (round(length(text)::DOUBLE / len(raw)::DOUBLE, 4)
        |       BETWEEN 2.0 AND 12.0)::INT AS v_shape
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS raw,
        |          list_filter(string_split(lower(text), ' '),
        |                      t -> t <> '') AS toks
        |        FROM documents))
        |ORDER BY doc_id LIMIT 300""".stripMargin,

    "q_quality_score" ->
      """SELECT doc_id, n_chars, n_tokens, avg_tok_len, uniq_ratio,
        |  (n_tokens >= 20 AND uniq_ratio >= 0.3)::INT AS quality
        |FROM (
        |  SELECT doc_id, n_chars, len(toks)::BIGINT AS n_tokens,
        |    round(length(text)::DOUBLE / len(toks)::DOUBLE, 4) AS avg_tok_len,
        |    round(len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE, 4) AS uniq_ratio
        |  FROM (SELECT doc_id, n_chars, text, string_split(text, ' ') AS toks
        |        FROM documents))
        |ORDER BY doc_id LIMIT 300""".stripMargin,

    // every column rebuilt from the generating fields — the log line is
    // never parsed here, so the regex itself is what equality verifies
    "q_log_parse" ->
      """WITH x AS (
        |  SELECT
        |    '10.' || (user_id % 240 + 10) || '.' || (user_id % 97 + 10)
        |      || '.7' AS ip,
        |    CASE WHEN event_type IN ('click', 'view') THEN 'GET'
        |         ELSE 'POST' END AS method,
        |    '/' || event_type || '/' || event_id AS path,
        |    CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS status,
        |    floor(value * 100)::BIGINT + 200 AS bytes
        |  FROM events)
        |SELECT method, status, count(*) AS n,
        |  count(DISTINCT ip) AS n_ips, count(DISTINCT path) AS n_paths,
        |  sum(bytes)::BIGINT AS total_bytes
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_regex_tokens" ->
      """SELECT lang,
        |  sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')))::BIGINT
        |    AS total_pieces,
        |  sum(len(string_split(text, ' ')))::BIGINT AS total_ws_tokens,
        |  round(avg(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))), 4)
        |    AS avg_pieces
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_length_buckets" ->
      """SELECT CASE WHEN n <= 1 THEN 1
        |            ELSE (1::BIGINT << length(bin(n - 1))) END AS bucket,
        |  count(*) AS n_docs, sum(n)::BIGINT AS total_tokens,
        |  ceil(sum(n) / 4096.0)::BIGINT AS est_packs
        |FROM (SELECT len(string_split(text, ' '))::BIGINT AS n FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  sum(len(string_split(text, ' ')))::BIGINT AS total_tokens,
        |  round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
        |  round(avg(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_repetition_signals" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, lang,
        |    unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) AS bigram
        |  FROM toks WHERE len(tk) >= 2),
        |cnt AS (SELECT doc_id, lang, bigram, count(*) AS c FROM bg GROUP BY 1,2,3),
        |per_doc AS (
        |  SELECT doc_id, lang, sum(c) AS n_bigrams, max(c) AS top_c,
        |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_c
        |  FROM cnt GROUP BY 1,2)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(top_c::DOUBLE / n_bigrams), 4) AS avg_top_bigram_frac,
        |  round(avg(dup_c::DOUBLE / n_bigrams), 4) AS avg_dup_bigram_frac,
        |  round(max(dup_c::DOUBLE / n_bigrams), 4) AS max_dup_bigram_frac
        |FROM per_doc GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_doc_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                             t -> t <> '') AS tk
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, len(tk)::BIGINT AS n_tok,
        |    unnest(range(0, greatest(len(tk) - 16, 1)::BIGINT, 48)) AS start
        |  FROM toks)
        |SELECT c.doc_id, (start / 48)::BIGINT AS chunk_idx,
        |  least(64, n_tok - start)::BIGINT AS chunk_len,
        |  md5(array_to_string(tk[start + 1 : start + 64], ' ')) AS chunk_md5
        |FROM c JOIN toks USING (doc_id)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_seq_packing" ->
      """WITH RECURSIVE d AS (
        |  SELECT source, doc_id,
        |    len(list_filter(string_split(lower(text), ' '),
        |                    t -> t <> ''))::BIGINT AS n_tok,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |packs AS (
        |  SELECT source, doc_id, n_tok, rn, 1::BIGINT AS pack_id, n_tok AS fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.doc_id, d.n_tok, d.rn,
        |    CASE WHEN p.fill + d.n_tok > 512 THEN p.pack_id + 1 ELSE p.pack_id END,
        |    CASE WHEN p.fill + d.n_tok > 512 THEN d.n_tok ELSE p.fill + d.n_tok END
        |  FROM packs p JOIN d ON d.source = p.source AND d.rn = p.rn + 1)
        |SELECT source, pack_id, count(*) AS n_docs,
        |  sum(n_tok)::BIGINT AS pack_tokens
        |FROM packs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_substring_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                             t -> t <> '') AS tk
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, unnest(range(1, greatest(len(tk) - 18, 1)::BIGINT)) AS pos
        |  FROM toks WHERE len(tk) >= 20),
        |w AS (
        |  SELECT p.doc_id, pos, array_to_string(tk[pos : pos + 19], ' ') AS win
        |  FROM p JOIN toks USING (doc_id)),
        |m AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         a.pos AS pos_a, a.pos - b.pos AS diag
        |  FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id),
        |runs AS (
        |  SELECT id_a, id_b, diag,
        |    pos_a - row_number() OVER (PARTITION BY id_a, id_b, diag
        |                               ORDER BY pos_a) AS grp
        |  FROM m),
        |spans AS (
        |  SELECT id_a, id_b, count(*) + 19 AS span_tokens
        |  FROM runs GROUP BY id_a, id_b, diag, grp)
        |SELECT id_a, id_b, count(*) AS n_spans,
        |  max(span_tokens)::BIGINT AS max_span_tokens,
        |  sum(span_tokens)::BIGINT AS total_span_tokens
        |FROM spans GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_span_scrub" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                             t -> t <> '') AS tk
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, unnest(range(1, greatest(len(tk) - 18, 1)::BIGINT)) AS pos
        |  FROM toks WHERE len(tk) >= 20),
        |w AS (
        |  SELECT p.doc_id, pos, array_to_string(tk[pos : pos + 19], ' ') AS win
        |  FROM p JOIN toks USING (doc_id)),
        |m AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         b.pos AS pos_b, a.pos - b.pos AS diag
        |  FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id),
        |runs AS (
        |  SELECT id_a, id_b, diag, pos_b,
        |    pos_b - row_number() OVER (PARTITION BY id_a, id_b, diag
        |                               ORDER BY pos_b) AS grp
        |  FROM m),
        |ranges AS (
        |  SELECT DISTINCT id_b AS doc_id, min(pos_b) AS st, max(pos_b) + 19 AS en
        |  FROM runs GROUP BY id_a, id_b, diag, grp),
        |marked AS (
        |  SELECT doc_id, st, en,
        |    CASE WHEN max(en) OVER (PARTITION BY doc_id ORDER BY st, en
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR st > max(en) OVER (PARTITION BY doc_id ORDER BY st, en
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS new_island
        |  FROM ranges),
        |islands AS (
        |  SELECT doc_id, min(st) AS ist, max(en) AS ien
        |  FROM (SELECT doc_id, st, en,
        |          sum(new_island) OVER (PARTITION BY doc_id ORDER BY st, en
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |        FROM marked)
        |  GROUP BY doc_id, island),
        |removed AS (
        |  SELECT doc_id, count(*) AS n_ranges,
        |    sum(ien - ist + 1)::BIGINT AS tokens_removed
        |  FROM islands GROUP BY 1)
        |SELECT t.doc_id, n_ranges, len(tk)::BIGINT AS n_tokens_before,
        |  tokens_removed, len(tk) - tokens_removed AS n_tokens_after
        |FROM toks t JOIN removed USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // phrase rebuilt from doc 0's tokens; occurrences counted by a
    // direct sliding comparison over each doc's token list
    "q_phrase_search" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |p AS (SELECT toks[1] AS p1, toks[2] AS p2, toks[3] AS p3, toks[4] AS p4
        |      FROM t WHERE doc_id = 0)
        |SELECT doc_id,
        |  len([i FOR i IN range(1, greatest(len(toks) - 2, 1))
        |       IF toks[i] = p1 AND toks[i+1] = p2
        |          AND toks[i+2] = p3 AND toks[i+3] = p4])::BIGINT AS n_occ
        |FROM t, p
        |WHERE len([i FOR i IN range(1, greatest(len(toks) - 2, 1))
        |       IF toks[i] = p1 AND toks[i+1] = p2
        |          AND toks[i+2] = p3 AND toks[i+3] = p4]) > 0
        |ORDER BY doc_id""".stripMargin,

    // same pair graph; the oracle counts triangles by plain id-order
    // (a<b<c) — any consistent total order counts each exactly once, so
    // the degree-ordered engine count must agree to the row
    "q_triangle_count" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct([
        |    array_to_string(toks[i:i+2], ' ')
        |    FOR i IN range(1, greatest(len(toks) - 1, 2))
        |  ]) AS grams
        |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                                   t -> t <> '') AS toks
        |        FROM documents)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |        len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE, 4) >= 0.8)
        |SELECT
        |  (SELECT count(DISTINCT n) FROM (SELECT id_a AS n FROM pairs
        |     UNION ALL SELECT id_b FROM pairs))::BIGINT AS n_nodes,
        |  (SELECT count(*) FROM pairs)::BIGINT AS n_edges,
        |  (SELECT count(*) FROM pairs e1
        |     JOIN pairs e2 ON e2.id_a = e1.id_a AND e2.id_b > e1.id_b
        |     JOIN pairs e3 ON e3.id_a = e1.id_b AND e3.id_b = e2.id_b)
        |    ::BIGINT AS n_triangles""".stripMargin,

    "q_dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct([
        |    array_to_string(toks[i:i+2], ' ')
        |    FOR i IN range(1, greatest(len(toks) - 1, 2))
        |  ]) AS grams
        |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                                   t -> t <> '') AS toks
        |        FROM documents)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |        len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE, 4) >= 0.8),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT DISTINCT a AS node, a AS r FROM edges
        |  UNION
        |  SELECT rr.node, e.b FROM reach rr JOIN edges e ON e.a = rr.r)
        |SELECT cluster_id, count(*) AS n_members, max(node) AS max_member
        |FROM (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // bounded-depth recursive CTE with min(dist) — must equal the
    // level-synchronous BFS layer assignment
    "q_bfs_distance" ->
      s"""WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct([
        |    array_to_string(toks[i:i+2], ' ')
        |    FOR i IN range(1, greatest(len(toks) - 1, 2))
        |  ]) AS grams
        |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                                   t -> t <> '') AS toks
        |        FROM (SELECT doc_id, text FROM documents
        |              UNION ALL ${plantedValuesSql(plantedChainDocs)}))),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |        len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE, 4) >= 0.8),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT (SELECT min(a) FROM edges) AS node, 0 AS dist
        |  UNION
        |  SELECT e.b, rr.dist + 1
        |  FROM reach rr JOIN edges e ON e.a = rr.node WHERE rr.dist < 6)
        |SELECT node, min(dist) AS dist FROM reach
        |GROUP BY node ORDER BY node""".stripMargin,

    // same union pair graph (corpus ∪ planted chain); the hub cap
    // (deg <= 64) is mirrored so both engines score the same wedges
    "q_adamic_adar" ->
      s"""WITH sh AS (
        |  SELECT doc_id, list_distinct([
        |    array_to_string(toks[i:i+2], ' ')
        |    FOR i IN range(1, greatest(len(toks) - 1, 2))
        |  ]) AS grams
        |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                                   t -> t <> '') AS toks
        |        FROM (SELECT doc_id, text FROM documents
        |              UNION ALL ${plantedValuesSql(plantedChainDocs)}))),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |        len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE, 4) >= 0.8),
        |adj AS (
        |  SELECT id_a AS z, id_b AS x FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |deg AS (
        |  SELECT z, count(*)::BIGINT AS dg FROM adj
        |  GROUP BY 1 HAVING count(*) <= 64),
        |adjb AS (SELECT a.z, a.x, d.dg FROM adj a JOIN deg d USING (z)),
        |wed AS (
        |  SELECT a1.x AS a, a2.x AS b, a1.dg AS dg
        |  FROM adjb a1 JOIN adjb a2 ON a1.z = a2.z AND a1.x < a2.x)
        |SELECT a, b, count(*)::BIGINT AS common_neighbors,
        |  round(sum(1.0/ln(dg)), 4) AS aa_score
        |FROM wed
        |WHERE NOT EXISTS (SELECT 1 FROM pairs p
        |                  WHERE p.id_a = wed.a AND p.id_b = wed.b)
        |GROUP BY 1, 2
        |ORDER BY aa_score DESC, a, b LIMIT 20""".stripMargin,

    "q_cluster_canonical" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct([
        |    array_to_string(toks[i:i+2], ' ')
        |    FOR i IN range(1, greatest(len(toks) - 1, 2))
        |  ]) AS grams, len(toks) AS n_tokens
        |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                                   t -> t <> '') AS toks
        |        FROM documents)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |        len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE, 4) >= 0.8),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT DISTINCT a AS node, a AS r FROM edges
        |  UNION
        |  SELECT rr.node, e.b FROM reach rr JOIN edges e ON e.a = rr.r),
        |labels AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
        |mem AS (SELECT cluster_id, node, n_tokens
        |        FROM labels JOIN sh ON node = doc_id),
        |mx AS (SELECT cluster_id, max(n_tokens) AS kept_tokens,
        |         count(*) AS n_members, sum(n_tokens) AS tot
        |       FROM mem GROUP BY 1),
        |keep AS (SELECT m.cluster_id, min(node) AS keep_id
        |         FROM mem m JOIN mx USING (cluster_id)
        |         WHERE n_tokens = kept_tokens GROUP BY 1)
        |SELECT cluster_id, keep_id, n_members, kept_tokens,
        |  (tot - kept_tokens)::BIGINT AS dropped_tokens
        |FROM mx JOIN keep USING (cluster_id)
        |ORDER BY cluster_id""".stripMargin)
}

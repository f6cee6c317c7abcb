package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions._

/**
 * Corpus-curation operators (SURVEY.md §2j, round 5 continuation) — the
 * steps between "deduped corpus" and "training shards": language/domain
 * rebalancing, token-budget selection, deterministic shuffle+sharding,
 * merge-pair statistics, PII redaction, per-class embedding centroids,
 * and schema-evolution reads.
 *
 * Scale rules as everywhere in this repo: per-doc work stays inside the
 * scan stage (codegen'd, shuffle-free); cross-doc decisions ride on
 * aggregates whose cardinality is BOUNDED (a length histogram, a
 * per-language count, a per-label centroid), broadcast back instead of
 * sorting the corpus; sampling gates are pure functions of the row key
 * (md5) so any retry / any partitioning produces the same corpus.
 */
object CurationQueries {

  type Q = (SparkSession, String) => DataFrame

  /**
   * Uniform-in-[0,1) deterministic per-key gate, expressible identically
   * in Spark and DuckDB: strip the hex letters out of md5(tag:key) and
   * read the first 4 remaining decimal digits as u/10000. Each surviving
   * digit is uniform on 0–9 independent of position, so u is uniform on
   * the 10k grid — plenty for corpus-level rates (and unlike a raw hex
   * prefix it compares against a COMPUTED rate, not a hand-built hex
   * literal). Pure function of the key: retry-stable, partition-stable.
   */
  private def gateU(tag: String, key: org.apache.spark.sql.Column) =
    substring(
      concat(regexp_replace(md5(concat_ws(":", lit(tag), key.cast("string"))),
        "[a-f]", ""), lit("0000")), 1, 4).cast("int") / 10000.0

  /** Efraimidis–Spirakis A-Res ranking key in log form, ln(u)/w: the
    * md5-digit uniform shifted to (0,1] (always-finite ln) over a
    * weight floored at 1. Pure function of (tag, doc_id) — shared by
    * the global (q_weighted_sample) and per-stratum (q_group_sample)
    * reservoirs so the two samplers can never drift apart. */
  private def esKey(tag: String, w: org.apache.spark.sql.Column) = {
    val digits = substring(
      concat(regexp_replace(md5(concat_ws(":", lit(tag),
        col("doc_id").cast("string"))), "[a-f]", ""), lit("0000")), 1, 4)
      .cast("int")
    log((digits + 1) / lit(10001.0)) / greatest(w, lit(1L)).cast("double")
  }

  /** The 3-round BPE merge-learning loop, shared by q_bpe_learn (reads
    * the per-round argmax pairs) and q_bpe_encode (reads the final
    * symbolized corpus): one run per (session, dataset), same lifetime
    * story as [[TextQueries.jaccardPairsShared]]. Every round is
    * localCheckpointed — without that, round r's pair agg re-derives
    * every earlier merge and each 1-row argmax re-executes per consumer
    * (O(R²) corpus passes; measured 61→~4 s at the 10× scale set).
    * Returns (per-round (round, pair, n_pair) 1-row frames, final
    * symbolized corpus (doc_id, s) with merged symbols U+001F-joined). */
  private def bpeRunShared(s: SparkSession, d: String): (Seq[DataFrame], DataFrame) = {
    val src = Seq("documents.parquet")
    // 4-piece persisted index (IndexStore, r11): the 3 per-round argmax
    // rows + the final symbolized corpus — a second session reloads the
    // learned merges instead of re-running the loop
    val pieces = SessionCache.get("bpe_run", s, d, src) {
      IndexStore.persistedMulti(s, d,
          (1 to 3).map(r => s"bpe_top$r") :+ "bpe_corpus", src) {
        val sep = ""
        var cur = Tables.documents(s, d).select(col("doc_id"),
          concat(lit(" "), array_join(tokens(col("text")), " "), lit(" ")).as("s"))
          .localCheckpoint()
        var tops: Seq[DataFrame] = Nil
        for (r <- 1 to 3) {
          val top1 = cur
            .select(pos_ngrams(split(trim(col("s"), " "), " "), 2).as(Seq("pos", "gram")))
            .groupBy("gram").agg(count(lit(1)).as("n"))
            .orderBy(desc("n"), asc("gram")).limit(1)
            .localCheckpoint()
          tops = tops :+ top1.select(lit(r).as("round"), col("gram").as("pair"),
            col("n").as("n_pair"))
          cur = cur.crossJoin(broadcast(top1.select(col("gram").as("g"))))
            .withColumn("pat", concat(lit(" "), col("g"), lit(" ")))
            .withColumn("rep",
              concat(lit(" "), translate(col("g"), " ", sep), lit(" ")))
            .withColumn("s", expr("replace(replace(s, pat, rep), pat, rep)"))
            .select("doc_id", "s")
            .localCheckpoint()
        }
        tops :+ cur
      }
    }
    (pieces.init, pieces.last)
  }

  // --- in-plan quality classifier (VERDICT r8 #3: the last missing
  // CCNet/fastText-style stage) -----------------------------------------
  // A linear (logistic) doc-quality filter over hashed n-gram features,
  // trained with 3 DECIMAL-EXACT batch gradient steps — the q_kmeans
  // determinism recipe applied to gradient descent: everything the
  // distributed sum order could perturb is integer-scaled before the
  // agg, so the learned weights are bit-identical under any
  // partitioning/retry, and a driver-side differential can replay them.

  /** Hashed feature buckets (the hashing trick). Sized so buckets stay
    * language-pure at every tested scale (measured distinct 3-grams:
    * 27k at sf0.1, 272k at 10× → 2^22 keeps the load factor ≤ 6.5%;
    * with few buckets every bucket is a uniform language mixture and NO
    * linear model can separate — D=64 never beat the majority class,
    * and 2^16 lost 10 accuracy points at 10×). The model is a (bucket,
    * weight) RELATION distributed on the bucket key — the LM-perplexity
    * shape — so D scales to fastText's millions unchanged; only the
    * occupied buckets (≤ vocab) materialize as rows. */
  /** Unicode-normalization constants (q_text_normalize), shared
    * VERBATIM by the Column expressions and the DuckDB oracle SQL —
    * escape syntax only (\x{…}/\xHH work in both Java regex and RE2;
    * no raw control bytes travel through the SQL channel). */
  private val spaceCls =
    """\x{00A0}\x{1680}\x{2000}-\x{200A}\x{202F}\x{205F}\x{3000}"""
  private val zwCls = """\x{200B}-\x{200D}\x{FEFF}"""
  private val ctrlCls = """\x00-\x08\x0B\x0C\x0E-\x1F"""
  private val fwFrom =
    (('Ａ' to 'Ｚ') ++ ('ａ' to 'ｚ') ++ ('０' to '９')).mkString
  private val fwTo =
    (('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9')).mkString
  private[graft] val textNormPlanted: Seq[(Long, String)] = Seq(
    (9400001L, "cafe au lait ​ done "),
    (9400002L, "ＦＵＬＬ　ＷＩＤＴＨ　１２３"),
    (9400003L, "badcontrolhere\tok"))

  private val qcD = 1L << 22
  private val qcBias = -1L // bias pseudo-bucket, present in every doc
  private val qcSteps = 3
  private val qcEta = 0.05

  /** (doc_id, y, b, xs): sparse per-doc PRESENCE features — the distinct
    * word-3-gram hash buckets of the doc plus the bias bucket, each with
    * fixed integer magnitude xs = 1e6 (presence, not frequency: it keeps
    * every feature on the bias's scale, so the bias can't swallow the
    * first gradient steps). Label y = 1 for English docs (the in-domain
    * class a CCNet-style filter keeps). One scan + one distinct per doc;
    * nothing wider than (doc_id, bucket) shuffles. */
  /** Sparse (doc_id, b, xs) presence features of ANY (doc_id, text)
    * relation — the label-free half of [[qcFeatures]], shared with the
    * streaming inference twin (q_stream_quality_filter), which scores
    * micro-batches it has no labels for. */
  private[graft] def qcSparseFeatures(docs: DataFrame): DataFrame = {
    val sparse = TextQueries.gramHashPostings(docs)
      .select(col("doc_id"), pmod(col("gh"), lit(qcD)).as("b"))
      .distinct()
    val bias = docs.select(col("doc_id"), lit(qcBias).as("b"))
    sparse.unionAll(bias).select(col("doc_id"), col("b"),
      lit(1000000L).as("xs"))
  }

  /** Corpus-level sparse features from the MAINTAINED posting index
    * (round 17 — the containment_dedup reuse pattern, VERDICT r16 §2a):
    * [[TextQueries.postingsShared]] is already the distinct (doc_id, gh)
    * relation of the corpus, so the training path stops re-shingling the
    * text (tokens → arrays_zip → explode → xxhash over every doc,
    * measured 7.8 s cold) and derives buckets with one
    * pmod over the index. distinct(pmod(distinct(gh))) ≡
    * distinct(pmod(gh)) — identical feature rows; the per-BATCH streaming
    * twin keeps deriving its features map-side from the batch text
    * ([[qcSparseFeatures]]), which is the deployment story anyway. */
  private def qcCorpusSparse(s: SparkSession, d: String): DataFrame = {
    val sparse = TextQueries.postingsShared(s, d)
      .select(col("doc_id"), pmod(col("gh"), lit(qcD)).as("b"))
    val bias = Tables.documents(s, d)
      .select(col("doc_id"), lit(qcBias).as("b"))
    // bias rides INSIDE the distinct (b = −1 never collides with a
    // pmod ≥ 0 bucket and is unique per doc, so distinct(grams ∪ bias) ≡
    // distinct(grams) ∪ bias — identical rows); the distinct's partial
    // aggregation dedupes map-side before its one exchange (§2.3)
    sparse.unionAll(bias)
      .distinct()
      .select(col("doc_id"), col("b"), lit(1000000L).as("xs"))
  }

  private[graft] def qcFeatures(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    qcCorpusSparse(s, d)
      .join(docs.select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y")), "doc_id")
      .select(col("doc_id"), col("y"), col("b"), col("xs"))
  }

  /** Corpus scoring off the TRAINED feature relation: feats already
    * carries exactly the label-free (doc_id, b, xs) rows of
    * [[qcSparseFeatures]](corpus), so the batch twin scores without
    * rebuilding features — same join, same exact-decimal margin, same
    * keep rule as [[qcScore]]. */
  private[graft] def qcScoreCorpus(s: SparkSession, d: String): DataFrame = {
    val (feats, w) = qcTrainShared(s, d)
    feats.join(broadcast(w), Seq("b"))
      .select(col("doc_id"),
        (round(col("wv") * 1e9).cast("long").cast("decimal(19,0)")
          * col("xs").cast("decimal(19,0)")).as("t"))
      .groupBy("doc_id")
      .agg((sum("t").cast("double") / 1e15).as("m"))
      .select(col("doc_id"), col("m"), (col("m") >= 0.0).as("keep"))
  }

  /** Per-doc margins under a weight relation: m = Σ_b w_b·x_b, computed
    * ORDER-FREE — weights snap to a 1e-9 grid, features live on the 1e-6
    * grid, and the per-doc sum runs over their exact DECIMAL products,
    * so no aggregation order can flip an LSB (the q_kmeans determinism
    * recipe applied to the dot product).
    *
    * Round 17 shape (guide §3.1/§2.4): the weight relation is BOUNDED BY
    * CONSTRUCTION at ≤ qcD+1 = 2^22+1 rows (~70 MB framed — the fastText
    * story: the model fits in memory at any corpus size), so it rides a
    * broadcast hash join instead of shuffling the n_docs×features side on
    * b; and the per-doc agg groups on doc_id alone (y is functionally
    * dependent on doc_id — max(y) recovers the constant exactly), so one
    * doc_id exchange is the step's only feature-volume shuffle. Same
    * decimal products, same exact sum, same output columns —
    * bit-identical margins. */
  private def qcMargins(feats: DataFrame, w: DataFrame): DataFrame =
    feats.join(broadcast(w), Seq("b"))
      .select(col("doc_id"), col("y"),
        (round(col("wv") * 1e9).cast("long").cast("decimal(19,0)")
          * col("xs").cast("decimal(19,0)")).as("t"))
      .groupBy("doc_id")
      .agg(max("y").as("y"), (sum("t").cast("double") / 1e15).as("m"))
      .select(col("doc_id"), col("y"), col("m"))

  /** 3 batch logistic-GD steps; returns (features, final (b, wv) weight
    * relation). Determinism: margins via [[qcMargins]]; residuals
    * σ(m)−y round to the 1e-8 grid before the gradient sum, which again
    * accumulates exact decimal products — bit-identical weights under
    * any partitioning/retry, replayable by a driver-side differential.
    * Every step is one join + two bounded hash aggs; weights stay a
    * relation keyed by bucket (at 100 TB: co-partitioned with the
    * postings, exactly how the perplexity LM distributes). */
  private[graft] def qcTrain(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val feats = qcFeatures(s, d).localCheckpoint()
    // The weight vector lives DRIVER-SIDE between steps (round 17): it is
    // bounded by construction at ≤ qcD+1 = 2^22+1 entries (~70 MB — the
    // broadcast-model scale the join shipped to every executor anyway;
    // the same bounded-collect license as the BPE argmax row and the
    // takedown Bloom bytes), sorted by bucket so the relation rebuilt per
    // step is deterministic. What this buys, measured with ProfileQ: the
    // per-step checkpoint barriers and the nested broadcast-build chains
    // were pure driver latency (36 jobs / 41 stages / 8.2 s build for
    // 0.3 s of parallel compute; per-step lineage variants each paid
    // fresh codegen). Now every step is ONE job over feats with an
    // IDENTICAL plan shape (only the LocalRelation weight data changes,
    // so steps 2..3 hit the codegen cache), and the update join becomes
    // a driver map update with the same IEEE op (wv − η·g, g = 0.0 when
    // the bucket has no gradient — exactly the old left_outer coalesce).
    // Step 1 specialization (round 17): under w₀ ≡ 0 every per-doc margin
    // is EXACTLY 0.0 (every t is the decimal 0, the exact sum is 0, and
    // 1/(1+exp(-0.0)) is exactly 0.5 in IEEE doubles), so the first
    // residual is round((0.5 − y)·1e8) without any margins pass — one
    // scan-and-agg job replaces the w-init distinct+collect AND step 1's
    // margins chain. The gradient keys are every occupied bucket (feats'
    // groupBy(b) sees every (doc, b) row), exactly the old init set, and
    // 0.0 − η·g ≡ wv − η·g at wv = 0 — bit-identical step-1 weights.
    val g1 = feats.select(col("b"),
        (round((lit(0.5) - col("y")) * 1e8).cast("long").cast("decimal(19,0)")
          * col("xs").cast("decimal(19,0)")).as("term"))
      .groupBy("b")
      .agg((sum(col("term")).cast("double") / 1e14 / count(lit(1))).as("g"))
      .collect()
    var wPairs: Array[(Long, Double)] =
      g1.map(r => (r.getLong(0), 0.0 - qcEta * r.getDouble(1))).sortBy(_._1)
    for (_ <- 2 to qcSteps) {
      val wDf = wPairs.toSeq.toDF("b", "wv")
      val rs = qcMargins(feats, wDf)
        .select(col("doc_id"),
          round((lit(1.0) / (lit(1.0) + exp(-col("m"))) - col("y")) * 1e8)
            .cast("long").cast("decimal(19,0)").as("rs"))
      // per-FEATURE mean residual (over the docs containing the bucket),
      // not mean over the corpus: a corpus-mean gradient shrinks every
      // rare feature's step like df/N, so the classifier that separated
      // 500 docs learns nothing at 50k (measured: keep rates collapse to
      // 0 at sf0.1). The per-feature mean is the standard frequency
      // preconditioner, is scale-invariant, and stays deterministic —
      // the divisor is an integer count.
      val gMap = feats.join(rs, "doc_id")
        .select(col("b"), (col("rs") * col("xs").cast("decimal(19,0)")).as("term"))
        .groupBy("b")
        .agg((sum(col("term")).cast("double") / 1e14 / count(lit(1))).as("g"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      wPairs = wPairs.map { case (b, wv) =>
        (b, wv - qcEta * gMap.getOrElse(b, 0.0)) }
    }
    (feats, wPairs.toSeq.toDF("b", "wv"))
  }

  /** One training run per (session, sfDir) — q_quality_classifier and
    * the streaming inference twin share the trained weight relation,
    * the same lifetime story as [[TextQueries.jaccardPairsShared]]. */
  private[graft] def qcTrainShared(s: SparkSession, d: String)
      : (DataFrame, DataFrame) =
    SessionCache.get("qc_train", s, d, Seq("documents.parquet"))(qcTrain(s, d))

  /** Label-free inference under a trained weight relation: per-doc
    * margin via the same exact-decimal dot product as training, keep =
    * σ(m) ≥ 0.5 ⇔ m ≥ 0. The model rides a broadcast join on the bucket
    * key (bounded at ≤ qcD+1 rows by construction — see [[qcMargins]]),
    * agg on doc_id — so this scores any corpus size with one exchange. */
  private[graft] def qcScore(docs: DataFrame, w: DataFrame): DataFrame =
    qcSparseFeatures(docs).join(broadcast(w), Seq("b"))
      .select(col("doc_id"),
        (round(col("wv") * 1e9).cast("long").cast("decimal(19,0)")
          * col("xs").cast("decimal(19,0)")).as("t"))
      .groupBy("doc_id")
      .agg((sum("t").cast("double") / 1e15).as("m"))
      .select(col("doc_id"), col("m"), (col("m") >= 0.0).as("keep"))

  /** Scored corpus + training metrics (spec/probe surface). */
  private[graft] def qcMetrics(s: SparkSession, d: String): DataFrame = {
    val (feats, w) = qcTrainShared(s, d)
    qcMargins(feats, w)
      .select(col("y"), (lit(1.0) / (lit(1.0) + exp(-col("m")))).as("p"))
      .agg(count(lit(1)).as("n_docs"),
        avg(when((col("p") >= 0.5) === (col("y") === 1.0), 1.0).otherwise(0.0))
          .as("acc"),
        avg(when(col("y") === 1.0, when(col("p") >= 0.5, 1.0).otherwise(0.0)))
          .as("keep_en"),
        avg(when(col("y") === 0.0, when(col("p") >= 0.5, 1.0).otherwise(0.0)))
          .as("keep_other"),
        avg(-(col("y") * log(col("p"))
          + (lit(1.0) - col("y")) * log(lit(1.0) - col("p")))).as("loss"))
  }

  val queries: Map[String, Q] = Map(

    // Feature hashing (the "hashing trick" behind fastText /
    // Vowpal-Wabbit-style linear models): categorical features map into
    // a FIXED k=64-bucket vector through a hash, with a second hash
    // choosing a ±1 sign so colliding features cancel in expectation
    // instead of biasing the bucket. No vocabulary to build, broadcast,
    // or keep consistent across a 1000-executor cluster — the feature
    // space is closed-form, which is the whole point at 100 TB (a
    // vocabulary dictionary is cluster state; a hash is not). Features
    // here are the doc's (lang, source, length-bucket) categoricals;
    // output is the per-lang hashed vector — the input representation a
    // q_quality_classifier-style linear model consumes. Hashes are the
    // house md5-decimal-digit construction, so DuckDB rebuilds the
    // exact buckets and signs.
    "q_feature_hash" -> ((s, d) => {
      def digits4(tag: String, c: org.apache.spark.sql.Column) =
        substring(concat(regexp_replace(md5(concat_ws(":", lit(tag), c)),
          "[a-f]", ""), lit("0000")), 1, 4).cast("int")
      val feats = Tables.documents(s, d).select(col("lang"), explode(array(
          concat(lit("lang="), col("lang")),
          concat(lit("src="), col("source")),
          concat(lit("len="), (col("n_chars") / 100).cast("int").cast("string"))
        )).as("feat"))
      feats.select(col("lang"),
          (digits4("fhb", col("feat")) % 64).as("bucket"),
          when(digits4("fhs", col("feat")) % 2 === 0, 1L).otherwise(-1L)
            .as("sgn"))
        .groupBy("lang", "bucket")
        .agg(sum("sgn").as("v"), count(lit(1)).as("n"))
        .orderBy("lang", "bucket")
    }),

    // Content-addressed takedown (right-to-erasure / DMCA / CSAM-list
    // removal — the compliance twin of dedup): a notice list of content
    // fingerprints md5(text) must be scrubbed from the corpus, catching
    // EVERY copy of the content, not just the noticed doc_id. The
    // 100 TB plan never joins the full corpus against the list: a Bloom
    // filter over the notice hashes (two-job pattern, SURVEY §3.3 —
    // built distributed, re-broadcast as a scan-stage literal predicate)
    // splits the scan into a no-false-negative fast path (might_contain
    // = false ⇒ provably not noticed, kept with NO join) and a small
    // might-contain branch that alone pays the exact anti join to shed
    // Bloom false positives. Join input shrinks from n_corpus to
    // n_noticed + fpp·n_corpus rows; the Bloom's size (15 MB per 10⁷
    // notices at fpp 0.1%) is the broadcast dial. Accounting output
    // (per-source before/removed/after) is what a deletion-certificate
    // audit wants, and is exactly SQL-expressible — the Bloom split is
    // pure optimization, so the oracle is a plain NOT IN.
    "q_takedown_delete" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("source"), md5(col("text")).as("h"))
      val notice = Tables.documents(s, d).filter(col("doc_id") % 37 === 3)
        .select(md5(col("text")).as("nh"))
      val bf = lit(notice
        .agg(bloom_agg(col("nh"), 100000L, 0.001).as("bf"))
        .head().getAs[Array[Byte]]("bf"))
      val survivors = docs.filter(!bloom_might_contain(bf, col("h")))
        .unionAll(docs.filter(bloom_might_contain(bf, col("h")))
          .join(notice, col("h") === col("nh"), "left_anti"))
      val before = docs.groupBy("source").agg(count(lit(1)).as("n_before"))
      val after = survivors.groupBy("source").agg(count(lit(1)).as("n_after"))
      before.join(after, Seq("source"), "left")
        .select(col("source"), col("n_before"),
          (col("n_before") - coalesce(col("n_after"), lit(0L))).as("n_removed"),
          coalesce(col("n_after"), lit(0L)).as("n_after"))
        .orderBy("source")
    }),

    // --- END-TO-END curation DAG (round 8 bonus): canonical dedup →
    // language/quality heuristic filter → exact token-budget cutoff →
    // hash-sharding, composed in ONE declarative plan and fully
    // DuckDB-oracle-checkable (every stage is SQL-expressible, unlike
    // the learned-classifier twin). Catalyst optimizes ACROSS stages —
    // one scan feeds the dedup agg and the token stats; the budget
    // decision rides a bounded length histogram + broadcast semi-join
    // (never a corpus sort); the shard gate is a pure function of
    // doc_id. The planted duplicate batch exercises the dedup stage at
    // gate scale (its short texts then drop at the quality filter).
    "q_curation_e2e" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select("doc_id", "text")
        .unionAll(TextQueries.plantedDupDocs.toDF("doc_id", "text"))
      // 1. canonical dedup: keep min doc_id per identical text
      val keep = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val canon = docs.join(keep, Seq("doc_id"), "left_semi")
      // 2. per-doc token stats in one exploded hash agg (codegen'd —
      // no interpreted filter HOF on the hot path), then the
      // lang-ID + quality predicate of q_lang_id / q_pipeline_e2e
      // (no stopword-based language predicate here: the 10x synthetic
      // corpus contains zero English stopwords, which would make the
      // whole DAG vacuous at scale — language selection is its own
      // operator, q_domain_mix / q_lang_id)
      val stats = canon
        .select(col("doc_id"), explode_outer(tokens(col("text"))).as("t"))
        .groupBy("doc_id")
        .agg(count(col("t")).as("n_tokens"),
          countDistinct(col("t")).as("n_uniq"))
      val quality = stats.filter(col("n_tokens") >= 20 &&
        col("n_uniq").cast("double") / col("n_tokens").cast("double") >= 0.3)
        .select("doc_id", "n_tokens")
      // 3. token budget: keep whole length-groups longest-first while
      // the cumulative token mass fits 50% (bounded histogram; the
      // prefix sum is two-level — length-range buckets + partitioned
      // within-bucket running sum, the q_token_budget round-12 pattern
      // — so even this stage carries no partition-less WindowExec)
      val hist = quality.groupBy("n_tokens")
        .agg((col("n_tokens") * count(lit(1))).as("mass"))
        .localCheckpoint() // bounded histogram, three consumers — one
                           // corpus explode instead of three
      val hmx = hist.agg(max("n_tokens").as("hmx"))
      val hb = hist.crossJoin(broadcast(hmx))
        .withColumn("lbk", expr("n_tokens div ((hmx + 32) div 32)"))
      val bMass = hb.groupBy("lbk").agg(sum("mass").as("bm"))
      val bOff = bMass
        .join(bMass.select(col("lbk").as("pb"), col("bm").as("pm")),
          col("pb") > col("lbk"), "left")
        .groupBy("lbk").agg(coalesce(sum("pm"), lit(0L)).as("boff"))
      val keepLens = hb.join(broadcast(bOff), "lbk")
        .withColumn("cmass", col("boff") + sum("mass").over(
          Window.partitionBy("lbk").orderBy(col("n_tokens").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(hist.agg(sum("mass").cast("double").as("total"))))
        .filter(col("cmass") <= col("total") * 0.5)
        .select("n_tokens")
      val budgeted = quality.join(broadcast(keepLens), "n_tokens")
      // 4. md5-digit shard gate (id-distribution-independent, the
      // q_corpus_shuffle technique) + per-shard accounting
      budgeted
        .withColumn("shard", pmod(substring(concat(
            regexp_replace(md5(concat(lit("shard:"), col("doc_id").cast("string"))),
              "[a-f]", ""), lit("0000")), 1, 4).cast("long"), lit(4L)))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
          min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"))
        .orderBy("shard")
    }),

    // --- quality classifier gate row: data-derived n_docs (the oracle
    // recomputes it) + in-plan guarantee flags (the q_knn_lsh pattern —
    // xxhash buckets and exp aren't DuckDB-expressible): the trained
    // filter must beat the accuracy floor, separate en from non-en keep
    // rates by the pinned gap, and end below the w=0 loss ln 2 (i.e.
    // training actually descended). Floors pinned one notch under the
    // measured deterministic minima ACROSS scales (acc
    // 0.988/0.984/0.917/0.910 and gap 0.97/0.96/0.80/0.78 at
    // sf0.001/0.01/0.1/10×; loss ≤ 0.53 everywhere — BASELINE.md r8).
    "q_quality_classifier" -> ((s, d) =>
      qcMetrics(s, d).select(col("n_docs"),
        lit(qcSteps).as("steps"),
        (col("acc") >= 0.88).as("acc_ok"),
        ((col("keep_en") - col("keep_other")) >= 0.75).as("sep_ok"),
        (col("loss") < 0.6931).as("loss_ok"))),


    // --- weighted sampling (Efraimidis–Spirakis A-Res, log form): rank
    // every doc by ln(u)/w where u is the seeded md5-uniform and
    // w = n_chars, keep the top 300 — the quality-weighted corpus
    // sampler. One scan + a bounded TakeOrdered (k rows per partition
    // reach the driver-side merge, never a global sort); the key is a
    // pure function of (seed, doc_id), so any retry, any partitioning,
    // any cluster size draws the SAME sample. u is shifted to (0,1] so
    // the key is always finite.
    "q_weighted_sample" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          esKey("ws42", col("n_chars")).as("key_raw"))
        .orderBy(desc("key_raw"), asc("doc_id"))
        .limit(300)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("key_raw") * 1e4, 6).as("es_key_e4"))
    }),

    // --- BPE merge LEARNING (3 rounds): the iterative half of the
    // tokenizer-training loop that q_bpe_pairs only scores once. Each
    // round is (a) adjacent-pair counts over the current symbol
    // sequences — streamed off the split array by the pos_ngrams
    // generator, one corpus-wide hash agg — (b) argmax pair by
    // (count desc, pair asc) as a 1-row broadcast, (c) merge applied
    // as TWO passes of codegen'd non-overlapping replace (pass 1 can
    // skip an occurrence whose leading space the previous match
    // consumed; pass 2 catches exactly those — the two-pass semantics
    // is the documented contract, identical in the oracle). Merged
    // symbols join with U+001F so later rounds can pick pairs built
    // from earlier merges. 100 TB shape: per round one bounded agg +
    // one broadcast + one scan-stage rewrite; rounds scale as O(R)
    // corpus scans, state never leaves the executors.
    "q_bpe_learn" -> ((s, d) => {
      val (tops, cur) = bpeRunShared(s, d)
      val symCount = cur
        .select(size(split(trim(col("s"), " "), " ")).cast("long").as("k"))
        .agg(sum("k").as("n_pair"))
        .select(lit(4).as("round"), lit("TOTAL_SYMBOLS").as("pair"), col("n_pair"))
      tops.reduce(_ unionAll _).unionAll(symCount).orderBy("round")
    }),

    // --- BPE ENCODE (the application half of q_bpe_learn): tokenize the
    // whole corpus with the learned merge table -- the job a training
    // pipeline runs daily once the tokenizer is trained. Per language:
    // docs, whitespace tokens in, symbols out after the 3 learned merges,
    // merges applied (each applied merge joins exactly 2 adjacent
    // symbols, so n_merges = n_tokens - n_symbols -- an invariant, not a
    // second count), and the compression ratio. The encode pass is the
    // shared [[bpeRunShared]] corpus rewrite (one codegen'd two-pass
    // replace per merge, no shuffle) plus one bounded per-lang hash agg;
    // empty docs (0 tokens) are excluded -- they have nothing to encode.
    "q_bpe_encode" -> ((s, d) => {
      val (_, enc) = bpeRunShared(s, d)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      val perDoc = enc.select(col("doc_id"),
        size(split(trim(col("s"), " "), " ")).cast("long").as("n_sym"))
      docs.filter(col("n_tok") > 0).join(perDoc, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"), sum("n_sym").as("n_symbols"))
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_symbols"),
          (col("n_tokens") - col("n_symbols")).as("n_merges"),
          round(col("n_tokens") / col("n_symbols").cast("double"), 4)
            .as("compression"))
        .orderBy("lang")
    }),

    // --- BPE decode round trip: the property that makes a tokenizer
    // DEPLOYABLE — decode(encode(x)) == x for every document, verified
    // in-plan over the whole corpus. Decode is the exact inverse by
    // construction (merged symbols are the pair's tokens glued with
    // U+001F, so translate(sym, U+001F, ' ') restores the token
    // stream); the gate catches any future merge-rule change that
    // breaks losslessness (e.g. a merge colliding with a literal token
    // or separator leakage). One join of the shared symbolized corpus
    // against the normalized originals, two bounded aggs.
    "q_bpe_roundtrip" -> ((s, d) => {
      val (_, enc) = bpeRunShared(s, d)
      val orig = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        concat(lit(" "), array_join(tokens(col("text")), " "), lit(" "))
          .as("norm"))
      orig.join(enc, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          (sum((translate(col("s"), "", " ") =!= col("norm"))
            .cast("int")) === 0).as("lossless"))
        .orderBy("lang")
    }),

    // --- DSIR-style hashed-ngram importance RESAMPLING (2j, round 7):
    // select generic-corpus docs that look in-domain (English-subset
    // reference) by importance weight in a hashed feature space — the
    // data-selection move that needs no LM at all. Feature = the
    // bigram's md5-prefix bucket (256 buckets, engine-portable hash);
    // per-doc log-weight = Σ ln[(c_ref+1)(T_gen+256) /
    // ((c_gen+1)(T_ref+256))] over bigram occurrences (Laplace-smoothed
    // bucket probability ratio); weights normalize by the GLOBAL max
    // (1-row broadcast) and the keep gate is u(doc) < w_rel with the
    // seeded md5 uniform — retry/partition/cluster-stable. Cost: bucket
    // counts are two 256-row aggs, totals are 1-row broadcasts, the
    // scoring join is a 256-key equi-join over the bigram stream, and
    // log-weights ride integer-scaled sums (engine-exact rounding).
    // Nothing grows with the corpus except the one linear scan.
    "q_importance_sample" -> ((s, d) => {
      val bg = Tables.documents(s, d)
        .select(col("doc_id"), pos_ngrams(tokens(col("text")), 2).as(Seq("pos", "gram")))
        .select(col("doc_id"), substring(md5(col("gram")), 1, 2).as("b"))
      val en = Tables.documents(s, d).filter(col("lang") === "en").select("doc_id")
      val ref = bg.join(en, "doc_id")
      val cRef = ref.groupBy("b").agg(count(lit(1)).as("c_ref"))
      val cGen = bg.groupBy("b").agg(count(lit(1)).as("c_gen"))
      val tRef = ref.agg(count(lit(1)).as("t_ref"))
      val tGen = bg.agg(count(lit(1)).as("t_gen"))
      val lp = log(((col("c_ref") + 1).cast("double") * (col("t_gen") + 256))
        / ((col("c_gen") + 1).cast("double") * (col("t_ref") + 256)))
      val scored = bg.join(cGen, "b").join(cRef, Seq("b"), "left")
        .na.fill(0L, Seq("c_ref"))
        .crossJoin(broadcast(tRef)).crossJoin(broadcast(tGen))
        .groupBy("doc_id")
        .agg(sum(round(lp * 1e6).cast("long")).as("score_e6"))
      val mx = scored.agg(max("score_e6").as("max_e6"))
      val kept = scored.crossJoin(broadcast(mx))
        .select(col("doc_id"),
          round(exp((col("score_e6") - col("max_e6")) / 1e6), 4).as("w_rel"))
        .withColumn("keep", gateU("dsir42", col("doc_id")) < col("w_rel"))
      kept.join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_scored"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
          round(sum(round(col("w_rel") * 1e4).cast("long")) / 1e4 / count(lit(1)), 4)
            .as("avg_w"))
        .orderBy("lang")
    }),

    // --- per-group weighted reservoir: the E-S key again, but drawn
    // per LANGUAGE through the bounded TopKAgg heap — each (partition,
    // lang) keeps a 50-element min-heap, so the shuffle carries ≤ 50
    // rows per group per partition instead of every candidate. This is
    // the per-stratum sampler (balanced fine-tuning mixes) in the shape
    // that survives a 100 TB corpus: agg state is O(groups × k), never
    // a per-group sort.
    "q_group_sample" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          esKey("gs42", col("n_chars")).as("key_raw"))
        .groupBy("lang")
        .agg(topk_agg(col("key_raw"), col("doc_id"), 50).as("tk"))
        .select(col("lang"), posexplode(col("tk")))
        .select(col("lang"), (col("pos") + 1).as("rank"),
          col("col.id").as("doc_id"),
          round(col("col.score") * 1e4, 6).as("es_key_e4"))
        .orderBy("lang", "rank")
    }),

    // --- deterministic train/val/test split: the md5 gate buckets each
    // doc 80/10/10; per-(split, lang) counts + volume stats audit the
    // assignment. Shuffle-free row work + one bounded hash agg — and
    // because the gate is keyed on doc_id alone, adding or removing
    // OTHER docs never reassigns an existing one (stable splits under
    // corpus growth, the property that keeps eval sets uncontaminated
    // across corpus versions).
    "q_dataset_split" -> ((s, d) => {
      val u = gateU("split42", col("doc_id"))
      Tables.documents(s, d)
        .withColumn("split",
          when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          round(avg(size(split(col("text"), " "))), 4).as("avg_tokens"))
        .orderBy("split", "lang")
    }),

    // --- dedup-aware split leakage (the benchmark-contamination failure
    // mode INSIDE one corpus): a pure per-doc hash split (the
    // q_dataset_split rule, reused verbatim) can land the two halves of
    // a near-duplicate pair on opposite sides of train/test — the model
    // then "generalizes" to its own training data. This query counts
    // those straddling pairs over the shared Jaccard ≥ 0.8 pair graph,
    // then applies the standard fix — assign every doc the split of its
    // CLUSTER representative (the shared CC min-label), so whole dup
    // clusters move as one — and RE-COUNTS leakage under the fixed
    // assignment in-plan (the oracle pins it at the structural 0: both
    // ends of any pair share a cluster by definition). Scale: pair
    // graph and labels are the maintained shared intermediates; the
    // split is per-row hash arithmetic; three bounded aggregates.
    "q_split_leakage" -> ((s, d) => {
      def splitOf(k: org.apache.spark.sql.Column) = {
        val u = gateU("split42", k)
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
      }
      val pairs = TextQueries.jaccardPairsShared(s, d)
        .select("id_a", "id_b")
      val labels = TextQueries.ccLabelsShared(s, d)
      val before = pairs.agg(count(lit(1)).as("n_pairs"),
        sum(when(splitOf(col("id_a")) =!= splitOf(col("id_b")), 1L)
          .otherwise(0L)).as("n_leaky_before"))
      val moved = labels.agg(
        sum(when(splitOf(col("node")) =!= splitOf(col("cluster")), 1L)
          .otherwise(0L)).as("n_docs_moved"))
      val after = pairs
        .join(labels.select(col("node").as("id_a"), col("cluster").as("ca")),
          "id_a")
        .join(labels.select(col("node").as("id_b"), col("cluster").as("cb")),
          "id_b")
        .agg(sum(when(splitOf(col("ca")) =!= splitOf(col("cb")), 1L)
          .otherwise(0L)).as("n_leaky_after"))
      before.crossJoin(broadcast(moved)).crossJoin(broadcast(after))
    }),

    // --- language rebalancing (domain mixing): down-sample each
    // language toward an EQUAL target share under a 60%-of-corpus
    // budget — the mixing step every multilingual training build runs
    // (English is ~2× oversampled in this corpus, so it is the one that
    // gets gated; scarce languages keep rate 1.0). The rate is computed
    // from two tiny aggregates (per-language counts + a 1-row corpus
    // total, both broadcast); the keep decision is the seeded md5 gate —
    // no global sort, no shuffle of the corpus itself beyond the final
    // per-language count. 100 TB shape: two hash aggs + a broadcast
    // join; the gate keeps resampling deterministic under retries.
    // --- unicode text normalization (2j): the cleanup pass every
    // multilingual crawl runs before tokenization — fullwidth→ASCII
    // folding (translate), exotic-space folding, zero-width strip,
    // control-char strip, whitespace collapse — all codegen'd
    // translate/regexp_replace, one map-side pass. The regex classes
    // are shared CONSTANTS interpolated into BOTH engines (escape
    // syntax, no raw control bytes in SQL), and the planted unicode
    // batch (NBSP/ideographic space, fullwidth letters, zero-width +
    // control chars) gives the gate nonzero rows at every scale: the
    // output is exactly the CHANGED documents with their cleaned text
    // — the cleanup audit a curation run reviews.
    "q_text_normalize" -> ((s, d) => {
      import s.implicits._
      val planted = textNormPlanted.toDF("doc_id", "text")
      val docs = Tables.documents(s, d).select("doc_id", "text")
        .unionAll(planted)
      val folded = translate(col("text"), fwFrom, fwTo)
      val stripped = regexp_replace(regexp_replace(regexp_replace(
        folded,
        s"[$spaceCls]", " "),
        s"[$zwCls]", ""),
        s"[$ctrlCls]", "")
      val cleaned = trim(
        regexp_replace(stripped, "[ \\t\\n\\x0B\\f\\r]+", " "), " ")
      docs.select(col("doc_id"), col("text"), cleaned.as("cleaned"))
        .filter(col("cleaned") =!= col("text"))
        .select(col("doc_id"), col("cleaned"))
        .orderBy("doc_id")
    }),

    // --- corpus datasheet (2j): the per-(lang, source) dataset card a
    // curation run publishes — volume (docs/tokens), exact-dup pressure
    // (docs vs distinct texts), length profile, short-doc fraction, and
    // type-token richness. ALL per-doc stats are map-side array ops
    // (size/array_distinct on the token array — no explode, no
    // per-doc shuffle); the report itself is two bounded hash aggs on
    // the (lang, source) key joined together. One corpus scan per agg,
    // any corpus size.
    "q_corpus_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val perDoc = docs.select(col("lang"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        size(array_distinct(tokens(col("text")))).cast("long").as("n_uniq"))
      val stats = perDoc.groupBy("lang", "source").agg(
        sum("n_tok").as("total_tokens"),
        round(avg("n_tok"), 4).as("avg_tokens"),
        round(avg(when(col("n_tok") < 20, 1.0).otherwise(0.0)), 4)
          .as("short_frac"),
        round(avg(when(col("n_tok") > 0,
          col("n_uniq").cast("double") / col("n_tok").cast("double"))), 4)
          .as("avg_ttr"))
      val vol = docs.groupBy("lang", "source").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_unique_texts"))
      vol.join(stats, Seq("lang", "source"))
        .orderBy("lang", "source")
    }),

    "q_domain_mix" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // corpus totals ride a window OVER THE PER-LANGUAGE AGGREGATE
      // (bounded by #languages), not a second corpus scan: one pass
      // counts, one pass gates — the minimum for a rate-from-stats
      // sampler
      val all = Window.partitionBy(lit(1))
      val perLang = docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
        .withColumn("rate", least(lit(1.0),
          lit(0.6) * sum("n_total").over(all)
            / (count(lit(1)).over(all) * col("n_total"))))
      val kept = docs
        .join(broadcast(perLang.select("lang", "rate")), "lang")
        .filter(gateU("mix", col("doc_id")) < col("rate"))
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      perLang.select(col("lang"), col("n_total"), round(col("rate"), 4).as("rate"))
        .join(broadcast(kept), Seq("lang"), "left")
        .select(col("lang"), col("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("rate"),
          round(coalesce(col("n_kept"), lit(0L)) / col("n_total").cast("double"), 4)
            .as("kept_frac"))
        .orderBy("lang")
    }),

    // --- temperature-scaled mixture weights (multilingual sampling à la
    // XLM-R): p_i ∝ share_i^α with α=0.5, which upsamples scarce
    // languages without letting any dominate. Everything is two bounded
    // aggregates (one per-language count + one #langs-sized window over
    // it); the per-language sqrt is integer-scaled to 1e-6 BEFORE the
    // cross-language sum so the normalizing total is exact integer
    // arithmetic — float summation order can never flip the hash, at
    // any language count. 100 TB shape: one hash agg over the corpus,
    // then arithmetic on a #langs-row table.
    "q_mixture_temperature" -> ((s, d) => {
      val all = Window.partitionBy(lit(1))
      Tables.documents(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("w_int",
          round(sqrt(col("n_docs").cast("double")) * 1e6, 0).cast("long"))
        .withColumn("p", col("w_int").cast("double")
          / sum("w_int").over(all).cast("double"))
        .withColumn("share", col("n_docs").cast("double")
          / sum("n_docs").over(all).cast("double"))
        .select(col("lang"), col("n_docs"),
          round(col("p"), 6).as("p_sample"),
          round(col("p") / col("share"), 4).as("boost"),
          round(col("p") * 1e5, 0).cast("long").as("epoch_docs"))
        .orderBy("lang")
    }),

    // --- epoch scheduling (data-constrained mixing): the UPsampling
    // complement of q_domain_mix/q_mixture_temperature's downsampling —
    // given an equal-share target across languages and a one-corpus
    // token budget, each scarce language REPEATS for
    // min(4, ideal/T_l) epochs (the ≤4-epoch repeat ceiling after
    // which repeated data stops helping — Muennighoff et al. 2023,
    // "Scaling Data-Constrained Language Models"), abundant languages
    // cap at 1 allocation. All inputs are exact BIGINT aggregates
    // (per-language and total token counts — two bounded hash aggs);
    // the schedule algebra then runs on |langs| rows of doubles written
    // identically in both engines. Nothing touches the corpus beyond
    // the one token-count scan.
    "q_epoch_schedule" -> ((s, d) => {
      val perLang = Tables.documents(s, d)
        .select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("tokens"))
      val tot = perLang.agg(sum(col("tokens")).as("budget"),
        count(lit(1)).as("n_langs"))
      val ideal = col("budget").cast("double") / col("n_langs")
      val epochs = least(lit(4.0), ideal / col("tokens").cast("double"))
      perLang.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("tokens"),
          round(epochs, 4).as("epochs"),
          round(epochs * col("tokens").cast("double"), 4)
            .as("eff_tokens"),
          // the binding constraint, decided in EXACT integers:
          // ideal/T < 4 ⇔ budget < 4·T·n_langs
          (col("budget") < col("tokens") * 4 * col("n_langs"))
            .as("budget_bound"))
        .orderBy("lang")
    }),

    // --- token-budget selection: keep the longest documents (ties by
    // doc_id) until 50% of the corpus' tokens are spent — the "fill the
    // training budget with the best docs first" step. NOT implemented as
    // a global sort + running sum over the corpus (that's a single-
    // partition window at 100 TB): the greedy prefix is reconstructed
    // from the LENGTH HISTOGRAM — distinct doc lengths with cumulative
    // token mass, a bounded aggregate — so whole lengths are kept by a
    // broadcast semi-join and only the single boundary length ranks
    // its tie set, through the bucket-offset pattern (round 12): even
    // a corpus where EVERY document has the packing length (the
    // pre-chunked degenerate case) never funnels through one task.
    // Equivalent to the greedy scan by construction; the oracle IS the
    // greedy scan.
    "q_token_budget" -> ((s, d) => {
      // the narrow (id, lang, n_tok) projection is consumed by FOUR
      // lineages (length histogram, whole-length keep, tie set, tie-set
      // max) — materialize the tokenize pass once (the SKILL/house rule
      // for 2+-consumer DataFrames; un-checkpointed, the round-12
      // two-level plan re-tokenized the corpus 4×: 1.25 → 3.2 s at
      // sf0.1, back to ~1.2 s checkpointed)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
        .localCheckpoint()
      // the budget (50% of corpus tokens) and the descending cumulative
      // mass both derive from the LENGTH HISTOGRAM (distinct doc
      // lengths — never corpus-sized). The prefix sum over the
      // histogram is itself two-level (round 12, VERDICT r11 #4): the
      // n_tok keyspace splits into ≤32 order-preserving range buckets
      // (1-row max broadcast), per-bucket mass totals prefix-sum by
      // triangular join over the ≤32-row bucket table, and cum(l) =
      // higher-bucket offset + within-bucket running sum PARTITIONED
      // by bucket — so the plan carries ZERO partition-less WindowExec
      // and stays O(L) even if distinct lengths grow into the millions
      // (where a triangular self-join over the histogram would go
      // quadratic and a global window would go single-task).
      val lens = docs.groupBy("n_tok").agg(sum("n_tok").as("mass"))
      val total = lens.agg(sum("mass").as("tot"))
      val lmx = lens.agg(max("n_tok").as("lmx"))
      val lb = lens.crossJoin(broadcast(lmx))
        .withColumn("lbk", expr("n_tok div ((lmx + 32) div 32)"))
      val bMass = lb.groupBy("lbk").agg(sum("mass").as("bm"))
      val bOff = bMass
        .join(bMass.select(col("lbk").as("pb"), col("bm").as("pm")),
          col("pb") > col("lbk"), "left")
        .groupBy("lbk").agg(coalesce(sum("pm"), lit(0L)).as("boff"))
      val hist = lb.join(broadcast(bOff), "lbk")
        .withColumn("cum", col("boff") + sum("mass").over(
          Window.partitionBy("lbk").orderBy(col("n_tok").desc)
            .rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(total))
        .withColumn("budget", floor(lit(0.5) * col("tot")).cast("long"))
      val fullLens = hist.filter(col("cum") <= col("budget")).select("n_tok")
      val boundary = hist
        .filter(col("cum") > col("budget")
          && col("cum") - col("mass") <= col("budget"))
        .select(col("n_tok").as("b_len"),
          (col("budget") - (col("cum") - col("mass"))).as("rem"))
      val fullKept = docs.join(broadcast(fullLens), Seq("n_tok"), "left_semi")
        .select("lang", "n_tok")
      // boundary tie set ranked by doc_id WITHOUT a partition-less
      // window (VERDICT r11 #4: in a pre-chunked uniform-length corpus
      // — the common LLM-pipeline shape — the tie set IS the corpus,
      // and the old Window.orderBy(doc_id) funneled it through one
      // task): the bucket-offset pattern of q_corpus_shuffle /
      // q_stable_ids — ≤32 coarse id-range buckets from a 1-row max
      // broadcast, the ≤32-row bucket histogram prefix-summed by
      // triangular join, rank = offset + row_number PARTITIONED by
      // bucket (parallel bounded sorts). Every tie doc has n_tok =
      // b_len, so the greedy running token sum is exactly rank·b_len.
      val tie = docs.join(broadcast(boundary), col("n_tok") === col("b_len"))
      val tmx = tie.agg(max("doc_id").as("mx"))
      val tb = tie.crossJoin(broadcast(tmx))
        .withColumn("bucket", expr("doc_id div ((mx + 32) div 32)"))
      val tHist = tb.groupBy("bucket").agg(count(lit(1)).as("bcnt"))
      val tOff = tHist
        .join(tHist.select(col("bucket").as("pb"), col("bcnt").as("pc")),
          col("pb") < col("bucket"), "left")
        .groupBy("bucket").agg(coalesce(sum("pc"), lit(0L)).as("off"))
      val tieKept = tb.join(broadcast(tOff), "bucket")
        .withColumn("rk", col("off") + row_number().over(
          Window.partitionBy("bucket").orderBy("doc_id")))
        .filter(col("rk") * col("b_len") <= col("rem"))
        .select("lang", "n_tok")
      fullKept.union(tieKept)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("tokens_kept"))
        .orderBy("lang")
    }),

    // --- deterministic corpus shuffle + round-robin sharding: global
    // training order = sort by md5(seed:doc_id) (a seeded permutation
    // any re-run reproduces), shard = (pos-1) mod 8. The global rank is
    // computed WITHOUT a partition-less window (that plan funnels the
    // whole corpus through one WindowExec task — the round-10 verdict's
    // scale-killer): the md5 key is uniform by construction, so its
    // first hex char range-buckets the keyspace into 16 equal slices
    // (no sampling-skew risk; at 100 TB widen the prefix — 2–3 hex
    // chars = 256/4096 buckets, the shuffle-partition dial). The
    // ≤16-row count histogram prefix-sums into per-bucket offsets, and
    // pos = offset + row_number PARTITIONED by bucket (parallel bounded
    // sorts + broadcast offset join — the q_stable_ids pattern).
    // The order_md5 verification artifact (content-checks the whole
    // permutation, not just counts) is likewise two-level so no agg
    // buffer holds more than a bucket-slice of one shard: a seg_md5
    // per (shard, bucket), then the ≤16 bounded segment digests
    // chain-hashed in bucket order. A real build would write the rows.
    "q_corpus_shuffle" -> ((s, d) => {
      val keyed = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          md5(concat_ws(":", lit("shuf42"), col("doc_id"))).as("k"))
        .withColumn("bucket", substring(col("k"), 1, 1))
      // prefix-sum the ≤16-row histogram by triangular self-join (not a
      // partition-less window, so zero single-partition WindowExec in
      // the whole plan): off(b) = Σ cnt over buckets strictly before b
      val hist = keyed.groupBy("bucket").agg(count(lit(1)).as("cnt"))
      val offsets = hist
        .join(hist.select(col("bucket").as("pb"), col("cnt").as("pc")),
          col("pb") < col("bucket"), "left")
        .groupBy("bucket").agg(coalesce(sum("pc"), lit(0L)).as("off"))
      val ranked = keyed.join(broadcast(offsets), "bucket")
        .withColumn("pos", col("off") + row_number().over(
          Window.partitionBy("bucket").orderBy(col("k"), col("doc_id"))))
        .withColumn("shard", ((col("pos") - 1) % 8).cast("int"))
      val segs = ranked.groupBy("shard", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("doc_id")))),
            x => x.getField("doc_id").cast("string")), " ")).as("seg_md5"))
      segs.groupBy("shard")
        .agg(sum("n_docs").as("n_docs"), sum("total_chars").as("total_chars"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("bucket"), col("seg_md5")))),
            x => x.getField("seg_md5")), " ")).as("order_md5"))
        .orderBy("shard")
    }),

    // --- BPE merge-pair statistics: the count table one iteration of
    // byte-pair-encoding training reads — per adjacent token pair, total
    // occurrences across the corpus, top 20. Pairs come from the same
    // shuffle-free shifted-slice zip as gramHashPostings (everything
    // codegen'd, pairs never leave the scan stage before the count);
    // unlike q_repetition_signals this keeps the token STRINGS, because
    // BPE needs to know WHICH pair to merge, not just how many repeat.
    "q_bpe_pairs" -> ((s, d) => {
      val base = Tables.documents(s, d).select(tokens(col("text")).as("tk"))
      val n = size(col("tk"))
      base.filter(n >= 2)
        .select(explode(arrays_zip(
          slice(col("tk"), lit(1), n - 1).as("t0"),
          slice(col("tk"), lit(2), n - 1).as("t1"))).as("z"))
        .select(concat_ws(" ", col("z.t0"), col("z.t1")).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
    }),

    // --- PII redaction: mask emails then long digit runs, report the
    // per-source redaction accounting plus a content check of the
    // redacted text. The synthetic corpus carries no PII, so a
    // deterministic contact line derived from doc_id is appended
    // IN-PLAN (identically in the oracle) — the redaction regexes and
    // the two-pass masking order (emails BEFORE numbers, so the digits
    // inside an address never double-mask) are what's under test.
    // Per-row regex work in the scan stage; one hash agg. Regexes kept
    // to the Java∩RE2 common dialect.
    // --- differentially-private release of grouped counts (round 9):
    // the binomial mechanism (Dwork–Kenthapadi–McSherry–Mironov–Naor,
    // EUROCRYPT 2006 — binomial noise approximating Gaussian): each
    // published count carries centered Binomial(8, ½) integer noise.
    // The noise is SEEDED per group key through the house md5-decimal
    // construction — a deterministic variant so a re-published release
    // is reproducible (and the gate can hash it); a production release
    // would swap the seed for entropy and keep every plan shape. Cost
    // shape at 100 TB: one hash agg, then a bounded per-group scalar
    // map over the |groups|-row output — the noise never touches the
    // fact scan.
    "q_dp_noise" -> ((s, d) => {
      val d8 = substring(concat(regexp_replace(
          md5(concat(lit("dp1:"), col("event_type"))), "[a-f]", ""),
        lit("00000000")), 1, 8)
      val noise = (1 to 8).map(i =>
        substring(d8, i, 1).cast("int") % 2).reduce(_ + _) - lit(4)
      Tables.events(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("n_true"))
        .select(col("event_type"), col("n_true"), noise.as("noise"),
          (col("n_true") + noise).as("n_noisy"))
        .orderBy("event_type")
    }),

    // --- k-anonymity generalization ladder (Samarati, PODS 1998 /
    // Sweeney, IJUFKS 2002): the release-gating audit for a table with
    // quasi-identifiers — pick the MINIMAL generalization level whose
    // suppression cost (rows sitting in quasi-ID groups smaller than
    // k = 5) fits a 5% budget. Ladder over customer quasi-IDs:
    //   L0 (nation, segment, 500-wide balance band)
    //   L1 (nation, segment, 2000-wide band)
    //   L2 (region, segment, 2000-wide band)   — nation → region roll-up
    //   L3 (region, *, *)                      — segment+balance dropped
    // Scale shape at 100 TB: the fact table is scanned ONCE into the
    // finest-level group relation (one hash agg on the L0 key, with the
    // nation/region dims broadcast BEFORE the shuffle); every coarser
    // level re-aggregates THAT bounded group table — the ladder never
    // rescans the corpus, and each re-agg input is |L0 groups| rows
    // (localCheckpointed once for its four consumers). The chosen flag
    // is decided in exact integers (20·suppressed ≤ n_rows). The gate
    // genuinely scale-differentiates: chosen = L3 at sf0.001, L2 at
    // sf0.01 (L2 suppresses 3.07% > budget at sf0.001 only — more data
    // makes finer releases safe), L1 at sf0.1.
    "q_k_anonymity" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
      val l0 = cust.groupBy(col("n_name"), col("r_name"),
          col("c_mktsegment"),
          floor(col("c_acctbal") / 500).cast("long").as("b500"),
          floor(col("c_acctbal") / 2000).cast("long").as("b2000"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // bounded group table, four ladder consumers
      def lvl(level: Int, g1: org.apache.spark.sql.Column,
              g2: org.apache.spark.sql.Column,
              g3: org.apache.spark.sql.Column) =
        l0.groupBy(g1.as("g1"), g2.as("g2"), g3.as("g3"))
          .agg(sum("cnt").as("cnt"))
          .select(lit(level).as("level"), col("cnt"))
      val lv = lvl(0, col("n_name"), col("c_mktsegment"), col("b500"))
        .unionAll(lvl(1, col("n_name"), col("c_mktsegment"), col("b2000")))
        .unionAll(lvl(2, col("r_name"), col("c_mktsegment"), col("b2000")))
        .unionAll(lvl(3, col("r_name"), lit("*"), lit(0L)))
      val w = Window.orderBy("level")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      lv.groupBy("level").agg(
          count(lit(1)).as("n_groups"), min("cnt").as("min_group"),
          sum(when(col("cnt") < 5, col("cnt")).otherwise(0L))
            .as("suppressed"),
          sum("cnt").as("n_rows"))
        .select(col("level"), col("n_groups"), col("min_group"),
          col("suppressed"),
          round(lit(100.0) * col("suppressed") / col("n_rows"), 4)
            .as("suppressed_pct"),
          (col("suppressed") * 20 <= col("n_rows")).as("meets_budget"))
        .withColumn("chosen", col("level") ===
          min(when(col("meets_budget"), col("level"))).over(w))
        .orderBy("level")
    }),

    // --- Calibration audit (reliability diagram + ECE, Naeini et al.
    // AAAI 2015): the classifier-ops step AFTER q_classifier_eval's
    // rank metrics — does the score MEAN what it says as a
    // probability? A model predicts P(accept) = x/(1+x) for
    // x = totalprice/20k while the true acceptance curve is
    // x²/(1+x²): overconfident below x = 1, underconfident above, so
    // the per-bin gap crosses zero mid-diagram — a real reliability
    // shape, not a constant offset. Both curves are RATIONAL
    // arithmetic (no exp/ln — +,·,/ are IEEE-correctly-rounded, so
    // Spark and DuckDB compute identical doubles and every outcome
    // draw u < p lands on the same side); outcomes are the house
    // md5-decimal uniform per order key. Scale shape: score, outcome
    // and bin are scan-stage arithmetic; the aggregate is 10 bins;
    // ECE is a window over those 10 rows. One scan, one bounded agg.
    "q_calibration_bins" -> ((s, d) => {
      val x = col("o_totalprice") / 20000.0
      val conf = x / (x + 1.0)
      val pTrue = (x * x) / (x * x + 1.0)
      val y = (gateU("cal1", col("o_orderkey")) < pTrue).cast("int")
      val w = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .select(floor(conf * 10).cast("int").as("bin"),
          conf.as("conf"), y.as("y"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), avg("conf").as("ac"), avg("y").as("fp"))
        .select(col("bin"), col("n"),
          round(col("ac"), 4).as("avg_conf"),
          round(col("fp"), 4).as("frac_pos"),
          round(col("ac") - col("fp"), 4).as("gap"),
          round(sum(col("n") * abs(col("ac") - col("fp"))).over(w) /
            sum(col("n")).over(w), 4).as("ece"))
        .orderBy("bin")
    }),

    "q_pii_redact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example tel "),
        (col("doc_id") * 7919 + 1000000).cast("string"))
      val emailPat = "[a-z0-9._]+@[a-z0-9.]+"
      val numPat = "[0-9]{4,}"
      val redacted = regexp_replace(
        regexp_replace(aug, emailPat, "<EMAIL>"), numPat, "<NUM>")
      docs.select(col("source"),
          regexp_count(aug, lit(emailPat)).as("n_email"),
          regexp_count(regexp_replace(aug, emailPat, "<EMAIL>"), lit(numPat))
            .as("n_num"),
          md5(redacted).as("rmd5"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_email").as("emails_masked"),
          sum("n_num").as("numbers_masked"), min("rmd5").as("content_md5"))
        .orderBy("source")
    }),

    // --- URL canonicalization dedup: the web-crawl front-door dedup
    // step (Common-Crawl corpora carry the same page under tracking-
    // param / case / trailing-slash variants). Each doc synthesizes 3
    // variant URLs that MUST canonicalize together — base, a
    // trailing-slash + utm_* tracking form, an UPPERCASE-scheme/host +
    // utm form — plus, on every 50th doc, a ?page=2 negative control
    // whose real param must SURVIVE canonicalization (its own group).
    // Canonical = https:// + lower(host) + rtrim(path,'/') +
    // non-utm query params sorted — built by genuinely PARSING the
    // messy variants (parse_url + array filter/sort), while the oracle
    // constructs the canonical form directly from the generating
    // fields: a parsing or stripping bug splits a group and hash-fails.
    // Scale: per-row codegen'd parsing + one hash agg on the canonical
    // key — the exact q_dedup_exact shape, keyed on canonical URL.
    "q_url_dedup" -> ((s, d) => {
      val base = Tables.documents(s, d).select("doc_id", "source", "lang")
      val v0 = concat(lit("https://"), col("source"),
        lit(".example.com/"), col("lang"), lit("/doc/"), col("doc_id"))
      val v1 = concat(v0, lit("/?utm_source=feed&utm_campaign="),
        col("doc_id"))
      val v2 = concat(lit("HTTPS://"), upper(col("source")),
        lit(".EXAMPLE.COM/"), col("lang"), lit("/doc/"), col("doc_id"),
        lit("?utm_medium=social"))
      val v3 = concat(v0, lit("?page=2"))
      val variants = base.select(col("doc_id"),
          posexplode(array(v0, v1, v2)).as(Seq("variant_id", "url")))
        .unionAll(base.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id"), lit(3).as("variant_id"), v3.as("url")))
      val host = lower(parse_url(col("url"), lit("HOST")))
      val path = regexp_replace(parse_url(col("url"), lit("PATH")),
        "/+$", "")
      val q = parse_url(col("url"), lit("QUERY"))
      val qClean = array_join(array_sort(filter(
        split(coalesce(q, lit("")), "&"),
        t => t =!= "" && !t.startsWith("utm_"))), "&")
      variants
        .withColumn("canonical", concat(lit("https://"), host, path,
          when(qClean =!= "", concat(lit("?"), qClean)).otherwise(lit(""))))
        .groupBy("canonical")
        .agg(count(lit(1)).as("n_variants"),
          min(col("variant_id")).as("keep_variant"),
          min(col("doc_id")).as("doc_id"))
        .orderBy("canonical")
    }),

    // --- per-label embedding centroids (the "class prototype" /
    // k-means-assignment-step primitive): mean vector per label for the
    // first 8 dimensions. posexplode keeps the dim loop inside the scan
    // stage; the aggregate is (n_labels × 8) cells — bounded, so the
    // plan is one hash agg at any corpus size. Rounded to 4 decimals
    // (FIXTURES float rule; same tolerance q_vector_stats proved stable).
    "q_label_centroids" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(slice(col("embedding"), 1, 8)))
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n"),
          round(avg(col("col")), 4).as("centroid"))
        .select(col("label"), col("pos").as("dim"), col("n"), col("centroid"))
        .orderBy("label", "dim")
    }),

    // --- PMI collocations: pointwise mutual information of adjacent
    // token pairs, ln(p(ab) / (p(a)·p(b))), min support 30 — the
    // collocation statistic phrase-mining and tokenizer-merge scoring
    // run (the probability-normalized complement of q_bpe_pairs' raw
    // counts). Unigram and bigram tables are two hash aggs off the same
    // scan shape; totals ride 1-row broadcast aggregates and the
    // (vocab-bounded) unigram table broadcasts into the bigram join.
    "q_pmi_pairs" -> ((s, d) => {
      val base = Tables.documents(s, d).select(tokens(col("text")).as("tk"))
      val n = size(col("tk"))
      val uni = base.select(explode(col("tk")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("cu"))
      val bg = base.filter(n >= 2)
        .select(explode(arrays_zip(
          slice(col("tk"), lit(1), n - 1).as("t0"),
          slice(col("tk"), lit(2), n - 1).as("t1"))).as("z"))
        .select(col("z.t0").as("t0"), col("z.t1").as("t1"))
        .groupBy("t0", "t1").agg(count(lit(1)).as("cb"))
      val totU = uni.agg(sum("cu").as("total_u"))
      val totB = bg.agg(sum("cb").as("total_b"))
      bg.filter(col("cb") >= 30)
        .join(broadcast(uni.select(col("t").as("t0"), col("cu").as("cu0"))), "t0")
        .join(broadcast(uni.select(col("t").as("t1"), col("cu").as("cu1"))), "t1")
        .crossJoin(broadcast(totU)).crossJoin(broadcast(totB))
        .select(concat_ws(" ", col("t0"), col("t1")).as("pair"), col("cb"),
          round(log((col("cb") / col("total_b"))
            / ((col("cu0") / col("total_u")) * (col("cu1") / col("total_u")))), 4)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("pair"))
        .limit(15)
    }),

    // --- vocabulary coverage: what fraction of each language's token
    // occurrences a top-10 global vocabulary captures — the
    // tokenizer-design question (vocab size vs OOV rate). One corpus
    // scan builds the (lang, token) count table; the vocabulary is a
    // re-aggregation of that table (bounded by vocab cardinality) and
    // broadcasts back for the coverage split. No second corpus pass,
    // no all-token sort — only the (already aggregated) term table is
    // ranked.
    "q_vocab_coverage" -> ((s, d) => {
      val lt = Tables.documents(s, d)
        .select(col("lang"), explode(tokens(col("text"))).as("tk"))
        .groupBy("lang", "tk").agg(count(lit(1)).as("cnt"))
      val vocab = lt.groupBy("tk").agg(sum("cnt").as("tot"))
        .orderBy(col("tot").desc, col("tk")).limit(10)
      val cov = lt.join(broadcast(vocab.select("tk")), Seq("tk"), "left_semi")
        .groupBy("lang").agg(sum("cnt").as("covered_tokens"))
      lt.groupBy("lang").agg(sum("cnt").as("total_tokens"))
        .join(cov, Seq("lang"), "left")
        .select(col("lang"), col("total_tokens"),
          coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
          round(coalesce(col("covered_tokens"), lit(0L))
            / col("total_tokens").cast("double"), 4).as("coverage"))
        .orderBy("lang")
    }),

    // --- parquet schema evolution: two writer generations of the same
    // table (v1 without the price columns, v2 with them) land in one
    // dataset; `mergeSchema` unions the footers so old files read with
    // nulls for the new columns — the lakehouse-standard forward-compat
    // read. Oracle is derived from `orders` directly (each generation
    // contributes every order once). Schema merge is a FOOTER-level
    // operation — cost scales with file count, not bytes.
    "q_schema_merge" -> ((s, d) => {
      val base = graft.GraftIO.root + "/orders_evo"
      val ord = Tables.orders(s, d)
      ord.select("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(s"$base/gen=1")
      ord.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite").parquet(s"$base/gen=2")
      s.read.option("mergeSchema", "true").parquet(base)
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_custkey")).as("n_custkey"),
          count(col("o_totalprice")).as("n_price"),
          // decimal-stable sum (q_math_funcs trick): double addition is
          // order-dependent at this magnitude, decimal addition is exact
          round(sum(col("o_totalprice").cast("decimal(30,12)")), 4)
            .cast("double").as("sum_price"),
          countDistinct(col("o_orderkey")).as("n_keys"))
    }))

  /** Shared DuckDB CTE chain for the BPE twins, 3 rounds unrolled:
    * round r counts adjacent pairs over d(r-1), t_r is the argmax pair,
    * d_r applies the same two-pass replace with chr(31) joining merged
    * symbols. Composes into bpeLearnOracle / the q_bpe_encode oracle. */
  private def bpeCtes: String = {
    def pairs(dPrev: String, t: String): String =
      s"""$t AS (
         |  SELECT gram, count(*) AS n FROM (
         |    SELECT unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) AS gram
         |    FROM (SELECT string_split(trim(s, ' '), ' ') AS tk FROM $dPrev))
         |  GROUP BY 1 ORDER BY n DESC, gram LIMIT 1)""".stripMargin
    def merge(dPrev: String, t: String, dNext: String): String =
      s"""$dNext AS (
         |  SELECT doc_id, replace(replace(s,
         |      ' ' || (SELECT gram FROM $t) || ' ',
         |      ' ' || replace((SELECT gram FROM $t), ' ', chr(31)) || ' '),
         |      ' ' || (SELECT gram FROM $t) || ' ',
         |      ' ' || replace((SELECT gram FROM $t), ' ', chr(31)) || ' ') AS s
         |  FROM $dPrev)""".stripMargin
    s"""d0 AS (
       |  SELECT doc_id,
       |    ' ' || array_to_string(list_filter(string_split(lower(text), ' '),
       |        t -> t <> ''), ' ') || ' ' AS s
       |  FROM documents),
       |${pairs("d0", "t1")},
       |${merge("d0", "t1", "d1")},
       |${pairs("d1", "t2")},
       |${merge("d1", "t2", "d2")},
       |${pairs("d2", "t3")},
       |${merge("d2", "t3", "d3")}""".stripMargin
  }

  /** DuckDB twin of q_bpe_learn over the shared 3-round chain. */
  private def bpeLearnOracle: String =
    s"""WITH $bpeCtes
       |SELECT 1 AS round, gram AS pair, n AS n_pair FROM t1
       |UNION ALL SELECT 2, gram, n FROM t2
       |UNION ALL SELECT 3, gram, n FROM t3
       |UNION ALL SELECT 4, 'TOTAL_SYMBOLS',
       |  (SELECT sum(len(string_split(trim(s, ' '), ' ')))::BIGINT FROM d3)
       |ORDER BY round""".stripMargin

  /** DuckDB twin of q_bpe_encode: the same chain's final corpus d3,
    * aggregated per language (empty docs excluded, as in the query). */
  private def bpeEncodeOracle: String =
    s"""WITH $bpeCtes,
       |enc AS (
       |  SELECT doc_id, len(string_split(trim(s, ' '), ' '))::BIGINT AS n_sym
       |  FROM d3),
       |tok AS (
       |  SELECT doc_id, lang,
       |    len(list_filter(string_split(lower(text), ' '),
       |        t -> t <> ''))::BIGINT AS n_tok
       |  FROM documents)
       |SELECT lang, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
       |  sum(n_sym)::BIGINT AS n_symbols,
       |  (sum(n_tok) - sum(n_sym))::BIGINT AS n_merges,
       |  round(sum(n_tok)::DOUBLE / sum(n_sym), 4) AS compression
       |FROM tok JOIN enc USING (doc_id)
       |WHERE n_tok > 0
       |GROUP BY lang ORDER BY lang""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_feature_hash" ->
      """WITH feats AS (
        |  SELECT lang, unnest(['lang=' || lang, 'src=' || source,
        |                       'len=' || (n_chars // 100)]) AS feat
        |  FROM documents),
        |h AS (
        |  SELECT lang,
        |    substr(regexp_replace(md5('fhb:' || feat), '[a-f]', '', 'g')
        |      || '0000', 1, 4)::INT % 64 AS bucket,
        |    CASE WHEN substr(regexp_replace(md5('fhs:' || feat),
        |        '[a-f]', '', 'g') || '0000', 1, 4)::INT % 2 = 0
        |      THEN 1 ELSE -1 END AS sgn
        |  FROM feats)
        |SELECT lang, bucket, sum(sgn)::BIGINT AS v, count(*)::BIGINT AS n
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the Bloom split is pure optimization (no false negatives; false
    // positives shed by the exact anti join) — the oracle is plain NOT IN
    "q_takedown_delete" ->
      """WITH notice AS (
        |  SELECT md5(text) AS nh FROM documents WHERE doc_id % 37 = 3),
        |docs AS (SELECT source, md5(text) AS h FROM documents)
        |SELECT source, count(*)::BIGINT AS n_before,
        |  sum(CASE WHEN h IN (SELECT nh FROM notice) THEN 1 ELSE 0 END)
        |    ::BIGINT AS n_removed,
        |  sum(CASE WHEN h IN (SELECT nh FROM notice) THEN 0 ELSE 1 END)
        |    ::BIGINT AS n_after
        |FROM docs GROUP BY source ORDER BY source""".stripMargin,

    "q_bpe_learn" -> bpeLearnOracle,
    "q_bpe_encode" -> bpeEncodeOracle,

    // losslessness is the contract; the oracle pins the doc counts and
    // the all-true flag the in-plan differential must produce
    "q_bpe_roundtrip" ->
      """SELECT lang, count(*) AS n_docs, true AS lossless
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // fully stage-by-stage mirrored e2e DAG — same planted batch, same
    // tokenize/filter/budget/shard arithmetic
    "q_curation_e2e" ->
      s"""WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL ${TextQueries.plantedValuesSql(TextQueries.plantedDupDocs)}),
        |canon AS (
        |  SELECT d.doc_id, d.text FROM docs d
        |  JOIN (SELECT text, min(doc_id) AS doc_id FROM docs GROUP BY text) k
        |    ON d.doc_id = k.doc_id),
        |toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS t
        |  FROM canon),
        |stats AS (
        |  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT t) AS n_uniq
        |  FROM toks GROUP BY 1),
        |quality AS (
        |  SELECT doc_id, n_tokens FROM stats
        |  WHERE n_tokens >= 20
        |    AND n_uniq::DOUBLE / n_tokens::DOUBLE >= 0.3),
        |hist AS (
        |  SELECT n_tokens, n_tokens * count(*) AS mass
        |  FROM quality GROUP BY 1),
        |keep_lens AS (
        |  SELECT n_tokens FROM (
        |    SELECT n_tokens,
        |      sum(mass) OVER (ORDER BY n_tokens DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cmass
        |    FROM hist), (SELECT sum(mass)::DOUBLE AS total FROM hist)
        |  WHERE cmass <= total * 0.5),
        |sharded AS (
        |  SELECT doc_id, n_tokens,
        |    (substr(regexp_replace(md5('shard:' || doc_id::VARCHAR),
        |       '[a-f]', '', 'g') || '0000', 1, 4)::BIGINT % 4) AS shard
        |  FROM quality JOIN keep_lens USING (n_tokens))
        |SELECT shard, count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM sharded GROUP BY 1 ORDER BY 1""".stripMargin,

    // guarantee-flag row (xxhash feature buckets + exp aren't DuckDB-
    // expressible): n_docs is real and recomputed; the flags are pinned
    "q_quality_classifier" ->
      """SELECT count(*) AS n_docs, 3 AS steps,
        |  true AS acc_ok, true AS sep_ok, true AS loss_ok
        |FROM documents""".stripMargin,

    "q_weighted_sample" ->
      """WITH keyed AS (
        |  SELECT doc_id, lang, n_chars,
        |    ln((substr(regexp_replace(md5('ws42:' || doc_id::VARCHAR),
        |          '[a-f]', '', 'g') || '0000', 1, 4)::INT + 1) / 10001.0)
        |      / greatest(n_chars, 1)::DOUBLE AS key_raw
        |  FROM documents)
        |SELECT doc_id, lang, n_chars,
        |  round(key_raw * 1e4, 6) AS es_key_e4
        |FROM keyed
        |ORDER BY key_raw DESC, doc_id
        |LIMIT 300""".stripMargin,

    "q_importance_sample" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents),
        |bgu AS (
        |  SELECT doc_id,
        |    unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) AS gram
        |  FROM toks),
        |bg AS (SELECT doc_id, substr(md5(gram), 1, 2) AS b FROM bgu),
        |ref AS (SELECT bg.* FROM bg JOIN documents d USING (doc_id)
        |        WHERE d.lang = 'en'),
        |cr AS (SELECT b, count(*) AS c_ref FROM ref GROUP BY 1),
        |cgn AS (SELECT b, count(*) AS c_gen FROM bg GROUP BY 1),
        |tt AS (SELECT (SELECT count(*) FROM ref) AS t_ref,
        |              (SELECT count(*) FROM bg) AS t_gen),
        |scored AS (
        |  SELECT doc_id,
        |    sum(round(ln(((coalesce(c_ref, 0) + 1)::DOUBLE * (t_gen + 256)) /
        |      ((c_gen + 1)::DOUBLE * (t_ref + 256))) * 1e6)::BIGINT)::BIGINT
        |      AS score_e6
        |  FROM bg JOIN cgn USING (b) LEFT JOIN cr USING (b) CROSS JOIN tt
        |  GROUP BY 1),
        |mx AS (SELECT max(score_e6) AS max_e6 FROM scored),
        |kept AS (
        |  SELECT doc_id, round(exp((score_e6 - max_e6) / 1e6), 4) AS w_rel,
        |    (substr(regexp_replace(md5('dsir42:' || doc_id::VARCHAR),
        |       '[a-f]', '', 'g') || '0000', 1, 4)::INT / 10000.0)
        |      < round(exp((score_e6 - max_e6) / 1e6), 4) AS keep
        |  FROM scored CROSS JOIN mx)
        |SELECT lang, count(*) AS n_scored,
        |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_keep,
        |  round(sum(round(w_rel * 10000)::BIGINT)::BIGINT / 10000.0 / count(*), 4)
        |    AS avg_w
        |FROM kept JOIN documents USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_group_sample" ->
      """WITH keyed AS (
        |  SELECT lang, doc_id,
        |    ln((substr(regexp_replace(md5('gs42:' || doc_id::VARCHAR),
        |          '[a-f]', '', 'g') || '0000', 1, 4)::INT + 1) / 10001.0)
        |      / greatest(n_chars, 1)::DOUBLE AS key_raw
        |  FROM documents),
        |ranked AS (
        |  SELECT lang, doc_id, key_raw,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY key_raw DESC, doc_id) AS rank
        |  FROM keyed)
        |SELECT lang, rank, doc_id, round(key_raw * 1e4, 6) AS es_key_e4
        |FROM ranked WHERE rank <= 50 ORDER BY lang, rank""".stripMargin,

    // the pair set + CC labels replayed by the q_dedup_clusters oracle
    // construction; splits by the q_dataset_split hash rule; the fixed
    // assignment's leakage is structurally 0 (pair ends share a cluster)
    "q_split_leakage" ->
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
        |        len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE,
        |        4) >= 0.8),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT DISTINCT a AS node, a AS r FROM edges
        |  UNION
        |  SELECT rr.node, e.b FROM reach rr JOIN edges e ON e.a = rr.r),
        |lbl AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
        |         ELSE 'test' END AS sp
        |  FROM (SELECT doc_id,
        |    substr(regexp_replace(md5('split42:' || doc_id::VARCHAR),
        |      '[a-f]', '', 'g') || '0000', 1, 4)::INT / 10000.0 AS u
        |  FROM documents))
        |SELECT
        |  (SELECT count(*) FROM pairs) AS n_pairs,
        |  (SELECT count(*) FROM pairs p
        |     JOIN sp a ON p.id_a = a.doc_id
        |     JOIN sp b ON p.id_b = b.doc_id
        |   WHERE a.sp <> b.sp) AS n_leaky_before,
        |  (SELECT count(*) FROM lbl l
        |     JOIN sp o ON l.node = o.doc_id
        |     JOIN sp c ON l.cluster = c.doc_id
        |   WHERE o.sp <> c.sp) AS n_docs_moved,
        |  0::BIGINT AS n_leaky_after""".stripMargin,

    // same exact integer inputs, same double schedule algebra
    "q_epoch_schedule" ->
      """WITH pl AS (
        |  SELECT lang, count(*) AS n_docs,
        |    sum(len(string_split(text, ' ')))::BIGINT AS tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT sum(tokens)::BIGINT AS budget,
        |        count(*)::BIGINT AS n_langs FROM pl)
        |SELECT lang, n_docs, tokens,
        |  round(least(4.0, (budget::DOUBLE / n_langs) / tokens::DOUBLE),
        |    4) AS epochs,
        |  round(least(4.0, (budget::DOUBLE / n_langs) / tokens::DOUBLE)
        |    * tokens::DOUBLE, 4) AS eff_tokens,
        |  budget < tokens * 4 * n_langs AS budget_bound
        |FROM pl, t ORDER BY lang""".stripMargin,

    "q_dataset_split" ->
      """WITH gated AS (
        |  SELECT *,
        |    substr(regexp_replace(md5('split42:' || doc_id::VARCHAR),
        |      '[a-f]', '', 'g') || '0000', 1, 4)::INT / 10000.0 AS u
        |  FROM documents)
        |SELECT CASE WHEN u < 0.8 THEN 'train'
        |            WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
        |  lang, count(*) AS n_docs,
        |  sum(n_chars)::BIGINT AS total_chars,
        |  round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
        |FROM gated GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,

    "q_mixture_temperature" ->
      """WITH pl AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |w AS (SELECT lang, n_docs,
        |        round(sqrt(n_docs) * 1e6)::BIGINT AS w_int FROM pl),
        |t AS (SELECT sum(w_int)::BIGINT AS tw, sum(n_docs)::BIGINT AS tn FROM w)
        |SELECT lang, n_docs,
        |  round(w_int / tw::DOUBLE, 6) AS p_sample,
        |  round((w_int / tw::DOUBLE) / (n_docs / tn::DOUBLE), 4) AS boost,
        |  round(w_int / tw::DOUBLE * 1e5)::BIGINT AS epoch_docs
        |FROM w CROSS JOIN t ORDER BY lang""".stripMargin,

    "q_text_normalize" ->
      s"""WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL ${TextQueries.plantedValuesSql(textNormPlanted)}),
        |c AS (SELECT doc_id, text,
        |  trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(
        |      translate(text, '$fwFrom', '$fwTo'),
        |      '[$spaceCls]', ' ', 'g'),
        |      '[$zwCls]', '', 'g'),
        |      '[$ctrlCls]', '', 'g'),
        |    '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), ' ') AS cleaned
        |  FROM all_docs)
        |SELECT doc_id, cleaned FROM c WHERE cleaned <> text
        |ORDER BY doc_id""".stripMargin,

    "q_corpus_report" ->
      """WITH perdoc AS (
        |  SELECT lang, source, len(toks) AS n_tok,
        |    len(list_distinct(toks)) AS n_uniq
        |  FROM (SELECT lang, source,
        |          list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
        |        FROM documents)),
        |stats AS (
        |  SELECT lang, source,
        |    sum(n_tok)::BIGINT AS total_tokens,
        |    round(avg(n_tok), 4) AS avg_tokens,
        |    round(avg(CASE WHEN n_tok < 20 THEN 1.0 ELSE 0.0 END), 4)
        |      AS short_frac,
        |    round(avg(CASE WHEN n_tok > 0
        |                   THEN n_uniq::DOUBLE / n_tok::DOUBLE END), 4) AS avg_ttr
        |  FROM perdoc GROUP BY 1, 2),
        |vol AS (
        |  SELECT lang, source, count(*) AS n_docs,
        |    count(DISTINCT text) AS n_unique_texts
        |  FROM documents GROUP BY 1, 2)
        |SELECT lang, source, n_docs, n_unique_texts, total_tokens,
        |  avg_tokens, short_frac, avg_ttr
        |FROM vol JOIN stats USING (lang, source)
        |ORDER BY lang, source""".stripMargin,

    "q_domain_mix" ->
      """WITH tot AS (
        |  SELECT count(*) AS n_total_corpus, count(DISTINCT lang) AS n_langs
        |  FROM documents),
        |per_lang AS (
        |  SELECT lang, count(*) AS n_total,
        |    least(1.0, 0.6 * (SELECT n_total_corpus FROM tot)
        |      / ((SELECT n_langs FROM tot) * count(*))) AS rate
        |  FROM documents GROUP BY 1),
        |kept AS (
        |  SELECT d.lang, count(*) AS n_kept
        |  FROM documents d JOIN per_lang p USING (lang)
        |  WHERE substr(regexp_replace(md5('mix:' || d.doc_id::VARCHAR),
        |          '[a-f]', '', 'g') || '0000', 1, 4)::INT / 10000.0 < p.rate
        |  GROUP BY 1)
        |SELECT lang, n_total, coalesce(n_kept, 0) AS n_kept,
        |  round(rate, 4) AS rate,
        |  round(coalesce(n_kept, 0) / n_total::DOUBLE, 4) AS kept_frac
        |FROM per_lang LEFT JOIN kept USING (lang)
        |ORDER BY lang""".stripMargin,

    "q_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(lower(text), ' '),
        |                    t -> t <> ''))::BIGINT AS n_tok
        |  FROM documents),
        |b AS (SELECT floor(0.5 * sum(n_tok))::BIGINT AS budget FROM d),
        |ranked AS (
        |  SELECT lang, n_tok,
        |    sum(n_tok) OVER (ORDER BY n_tok DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT lang, count(*) AS n_docs, sum(n_tok)::BIGINT AS tokens_kept
        |FROM ranked WHERE cum <= (SELECT budget FROM b)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the oracle ranks with the straightforward GLOBAL window (DuckDB
    // has no scale concern), so it independently verifies the Spark
    // side's bucket-offset pos; only the digest mirrors the two-level
    // (shard, bucket) -> shard chaining, which is part of the contract.
    "q_corpus_shuffle" ->
      """WITH p AS (
        |  SELECT doc_id, n_chars, md5('shuf42:' || doc_id::VARCHAR) AS k,
        |    row_number() OVER (
        |      ORDER BY md5('shuf42:' || doc_id::VARCHAR), doc_id) AS pos
        |  FROM documents),
        |s AS (
        |  SELECT ((pos - 1) % 8)::INT AS shard, substr(k, 1, 1) AS bucket,
        |    count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
        |    md5(string_agg(doc_id::VARCHAR, ' ' ORDER BY pos)) AS seg_md5
        |  FROM p GROUP BY 1, 2)
        |SELECT shard, sum(n_docs)::BIGINT AS n_docs,
        |  sum(total_chars)::BIGINT AS total_chars,
        |  md5(string_agg(seg_md5, ' ' ORDER BY bucket)) AS order_md5
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_bpe_pairs" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents),
        |pairs AS (
        |  SELECT unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) AS pair
        |  FROM toks WHERE len(tk) >= 2)
        |SELECT pair, count(*) AS cnt FROM pairs
        |GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,

    "q_dp_noise" ->
      """WITH g AS (
        |  SELECT event_type, count(*) AS n_true FROM events GROUP BY 1),
        |x AS (
        |  SELECT event_type, n_true,
        |    substr(regexp_replace(md5('dp1:' || event_type),
        |      '[a-f]', '', 'g') || '00000000', 1, 8) AS d8
        |  FROM g),
        |nz AS (
        |  SELECT event_type, n_true,
        |    (substr(d8, 1, 1)::INT % 2 + substr(d8, 2, 1)::INT % 2 +
        |     substr(d8, 3, 1)::INT % 2 + substr(d8, 4, 1)::INT % 2 +
        |     substr(d8, 5, 1)::INT % 2 + substr(d8, 6, 1)::INT % 2 +
        |     substr(d8, 7, 1)::INT % 2 + substr(d8, 8, 1)::INT % 2 - 4)::INT
        |      AS noise
        |  FROM x)
        |SELECT event_type, n_true, noise, n_true + noise AS n_noisy
        |FROM nz ORDER BY event_type""".stripMargin,

    "q_k_anonymity" ->
      """WITH cust AS (
        |  SELECT n_name, r_name, c_mktsegment, c_acctbal
        |  FROM customer c
        |  JOIN nation n ON c_nationkey = n_nationkey
        |  JOIN region r ON n_regionkey = r_regionkey),
        |l0 AS (
        |  SELECT n_name, r_name, c_mktsegment,
        |    CAST(floor(c_acctbal/500) AS BIGINT) AS b500,
        |    CAST(floor(c_acctbal/2000) AS BIGINT) AS b2000,
        |    count(*)::BIGINT AS cnt
        |  FROM cust GROUP BY 1,2,3,4,5),
        |lv AS (
        |  SELECT 0 AS level, n_name AS g1, c_mktsegment AS g2,
        |         b500 AS g3, sum(cnt)::BIGINT AS cnt
        |  FROM l0 GROUP BY 2,3,4
        |  UNION ALL
        |  SELECT 1, n_name, c_mktsegment, b2000, sum(cnt)::BIGINT
        |  FROM l0 GROUP BY 2,3,4
        |  UNION ALL
        |  SELECT 2, r_name, c_mktsegment, b2000, sum(cnt)::BIGINT
        |  FROM l0 GROUP BY 2,3,4
        |  UNION ALL
        |  SELECT 3, r_name, '*', 0, sum(cnt)::BIGINT
        |  FROM l0 GROUP BY 2,3),
        |m AS (
        |  SELECT level, count(*)::BIGINT AS n_groups, min(cnt) AS min_group,
        |    sum(CASE WHEN cnt < 5 THEN cnt ELSE 0 END)::BIGINT AS suppressed,
        |    sum(cnt)::BIGINT AS n_rows
        |  FROM lv GROUP BY 1)
        |SELECT level, n_groups, min_group, suppressed,
        |  round(100.0*suppressed/n_rows, 4) AS suppressed_pct,
        |  suppressed * 20 <= n_rows AS meets_budget,
        |  level = min(CASE WHEN suppressed * 20 <= n_rows THEN level END)
        |            OVER () AS chosen
        |FROM m ORDER BY level""".stripMargin,

    "q_calibration_bins" ->
      """WITH b AS (
        |  SELECT
        |    CAST(floor((o_totalprice/20000.0)/((o_totalprice/20000.0)+1.0)
        |      * 10) AS INT) AS bin,
        |    (o_totalprice/20000.0)/((o_totalprice/20000.0)+1.0) AS conf,
        |    CASE WHEN
        |      substr(regexp_replace(md5('cal1:' || o_orderkey::VARCHAR),
        |        '[a-f]', '', 'g') || '0000', 1, 4)::INT / 10000.0
        |      < ((o_totalprice/20000.0)*(o_totalprice/20000.0))
        |        / ((o_totalprice/20000.0)*(o_totalprice/20000.0)+1.0)
        |      THEN 1 ELSE 0 END AS y
        |  FROM orders),
        |g AS (
        |  SELECT bin, count(*)::BIGINT AS n, avg(conf) AS ac, avg(y) AS fp
        |  FROM b GROUP BY 1)
        |SELECT bin, n, round(ac, 4) AS avg_conf, round(fp, 4) AS frac_pos,
        |  round(ac - fp, 4) AS gap,
        |  round(sum(n*abs(ac-fp)) OVER () / sum(n) OVER (), 4) AS ece
        |FROM g ORDER BY bin""".stripMargin,

    "q_pii_redact" ->
      """WITH aug AS (
        |  SELECT source,
        |    text || ' contact user' || doc_id::VARCHAR
        |         || '@mail.example tel '
        |         || (doc_id * 7919 + 1000000)::VARCHAR AS t
        |  FROM documents),
        |r AS (
        |  SELECT source,
        |    len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.]+')) AS n_email,
        |    len(regexp_extract_all(
        |      regexp_replace(t, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |      '[0-9]{4,}')) AS n_num,
        |    md5(regexp_replace(
        |      regexp_replace(t, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |      '[0-9]{4,}', '<NUM>', 'g')) AS rmd5
        |  FROM aug)
        |SELECT source, count(*) AS n_docs,
        |  sum(n_email)::BIGINT AS emails_masked,
        |  sum(n_num)::BIGINT AS numbers_masked,
        |  min(rmd5) AS content_md5
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // the canonical forms BY CONSTRUCTION: the 3 messy variants of each
    // doc collapse to its base URL, the ?page=2 control stands alone —
    // a Spark-side parse/strip bug splits a group and hash-fails
    "q_url_dedup" ->
      """WITH canon AS (
        |  SELECT doc_id,
        |    'https://' || lower(source) || '.example.com/' || lang ||
        |      '/doc/' || doc_id AS base
        |  FROM documents)
        |SELECT canonical, n_variants, keep_variant, doc_id FROM (
        |  SELECT base AS canonical, 3::BIGINT AS n_variants,
        |    0 AS keep_variant, doc_id FROM canon
        |  UNION ALL
        |  SELECT base || '?page=2', 1::BIGINT, 3, doc_id
        |  FROM canon WHERE doc_id % 50 = 0)
        |ORDER BY canonical""".stripMargin,

    "q_label_centroids" ->
      """SELECT label, (i - 1)::INT AS dim, count(*) AS n,
        |  round(avg(embedding[i]), 4) AS centroid
        |FROM embeddings, generate_series(1, 8) AS t(i)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_pmi_pairs" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents),
        |uni AS (
        |  SELECT unnest(tk) AS t FROM toks),
        |cu AS (SELECT t, count(*) AS cu FROM uni GROUP BY 1),
        |bg AS (
        |  SELECT unnest([tk[i] FOR i IN range(1, len(tk))]) AS t0,
        |         unnest([tk[i+1] FOR i IN range(1, len(tk))]) AS t1
        |  FROM toks WHERE len(tk) >= 2),
        |cb AS (SELECT t0, t1, count(*) AS cb FROM bg GROUP BY 1, 2),
        |tu AS (SELECT sum(cu)::DOUBLE AS total_u FROM cu),
        |tb AS (SELECT sum(cb)::DOUBLE AS total_b FROM cb)
        |SELECT t0 || ' ' || t1 AS pair, cb,
        |  round(ln((cb::DOUBLE / total_b)
        |    / ((a.cu::DOUBLE / total_u) * (b.cu::DOUBLE / total_u))), 4) AS pmi
        |FROM cb
        |JOIN cu a ON a.t = cb.t0
        |JOIN cu b ON b.t = cb.t1, tu, tb
        |WHERE cb >= 30
        |ORDER BY pmi DESC, pair LIMIT 15""".stripMargin,

    "q_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT lang, unnest(list_filter(string_split(lower(text), ' '),
        |                                  t -> t <> '')) AS tk
        |  FROM documents),
        |lt AS (SELECT lang, tk, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |vocab AS (
        |  SELECT tk FROM (SELECT tk, sum(cnt) AS tot FROM lt GROUP BY 1)
        |  ORDER BY tot DESC, tk LIMIT 10)
        |SELECT lang, sum(cnt)::BIGINT AS total_tokens,
        |  coalesce(sum(cnt) FILTER (tk IN (SELECT tk FROM vocab)), 0)::BIGINT
        |    AS covered_tokens,
        |  round(coalesce(sum(cnt) FILTER (tk IN (SELECT tk FROM vocab)), 0)
        |    / sum(cnt)::DOUBLE, 4) AS coverage
        |FROM lt GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_schema_merge" ->
      """SELECT 2 * count(*) AS n_rows, 2 * count(*) AS n_custkey,
        |  count(*) AS n_price,
        |  round(sum(o_totalprice::DECIMAL(30,12)), 4)::DOUBLE AS sum_price,
        |  count(DISTINCT o_orderkey) AS n_keys
        |FROM orders""".stripMargin)
}

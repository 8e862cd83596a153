package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.CacheScope.Ops
import graft.functions.FamilyIndex
import graft.sources.Tables

/** Deduplication operators over `documents` (SURVEY.md §7.1 B4) —
  * the LLM-training-pipeline surface: exact dedup, MinHash+LSH
  * near-dup, exact n-gram Jaccard, and SimHash fingerprinting.
  *
  * Oracle parity trick: every hash in this file derives from md5 of
  * an explicit string — Spark's and DuckDB's md5 agree byte-for-byte,
  * and fixed hex substrings convert to identical integers on both
  * engines (Spark `conv(…,16,10)` ≙ DuckDB `('0x'||…)::BIGINT`) — so
  * the oracle recomputes identical signatures (SURVEY.md §7.4.2).
  *
  * Scale design: MinHash+LSH (q22) is the 100 TB path — banding means
  * candidate generation is a shuffle on (band_idx, band_val), never an
  * all-pairs product; minhashes come from Kirsch-Mitzenmacher double
  * hashing (one md5 per shingle). Exact Jaccard (q23) is the verifier,
  * run at scale only on LSH candidates. SimHash (q24/q35) is one
  * shuffle on doc_id plus a 16-bit-block pigeonhole search.
  *
  * Cache lifetime: q22/q23/q35 persist small signature tables (eager
  * persist + count — both join sides must read the cache, lazy
  * persist races it) and leave them cached for plan reuse within the
  * query. Every query-local persist registers with
  * [[graft.functions.CacheScope]]; Bench/Verify/DevProbe call
  * `CacheScope.drain()` between queries (plus `clearCache()` as the
  * safety net), and library callers running many queries in one
  * session should drain the same way — an undrained session
  * accumulates cache entries (the CacheManager holds strong
  * references) and late queries pay eviction churn.
  */
object Dedup {

  private val ShingleK = 3
  private val NumHashes = 12
  private val BandRows = 2 // 6 bands × 2 rows
  private val MaxCcRounds = 50 // q62 pointer jumping: covers diameter ~2^50
  // q62 single-task cutover: 4M symmetric edges ≈ ≤8M union-find
  // entries ≈ ~350 MB in one task — comfortable; above this the
  // distributed propagation loop runs instead.
  private[operators] val CcSingleTaskMaxEdges = 4L << 20

  /** Word-k-gram shingles per document, expanded with a typed flatMap
    * — the reference's own operator shape (`Mapper.Do`, one record in,
    * N out, `/root/reference/maps/maps.go:12-14`). A Catalyst
    * `transform(sequence(...), ...)` formulation was tried first per
    * the prefer-builtins rule, but higher-order functions are
    * CodegenFallback (interpreted lambdas) and measured 3-5× slower
    * than this JVM loop at sf0.1; the downstream is a shuffle either
    * way, so no pushdown is lost. Documents shorter than k words
    * produce no shingles (guarded identically in the oracle).
    * `distinct = false` skips the dedup shuffle for consumers where
    * duplicates are harmless (min() is idempotent over multisets —
    * MinHash needs no distinct). */
  /** THE word-k-gram shingle definition — one function shared by
    * every batch flatMap below AND the streaming decontamination twin
    * (streaming/CorpusStreams.decontamStream), so no consumer can
    * tokenize differently. `split(" ", -1)` keeps trailing empty
    * tokens exactly like Catalyst `split` and DuckDB `string_split`
    * (Scala's default limit-0 split would silently drop them). */
  private[graft] def shingleSeq(text: String): Iterator[String] = {
    val t = text.split(" ", -1)
    if (t.length < ShingleK) Iterator.empty
    else (0 to t.length - ShingleK).iterator
      .map(i => t.slice(i, i + ShingleK).mkString(" "))
  }

  /** [[shingleSeq]] deduplicated WITHIN the document (first-occurrence
    * order, deterministic). Because doc_id is part of every distinct
    * key downstream (`DISTINCT (doc_id[, source], sh)` and source is
    * functionally dependent on doc_id), a corpus-wide `.distinct()`
    * over the shingle relation is exactly per-document dedup — so it
    * can run HERE, inside the producing task, instead of as a
    * corpus-sized Exchange of shingle strings (guide §2.4: remove
    * shuffles outright). Per-task state is one doc's shingle set,
    * bounded by document length, never corpus-sized. */
  private[graft] def shingleSeqDistinct(text: String): Iterator[String] = {
    val seen = new java.util.LinkedHashSet[String]()
    shingleSeq(text).foreach(seen.add)
    import scala.jdk.CollectionConverters._
    seen.iterator().asScala
  }

  /** Per-document MinHash band signatures — THE q22 recipe (the
    * shared [[shingleSeq]] tokenizer, KM double-hash h1 + s·h2 from
    * the two 32-bit md5 halves, 6 bands × 2 rows joined `m_m`)
    * evaluated per row in the JVM, for the streaming near-dup twin
    * (streaming/CorpusStreams.minhashCandidateStream) where a
    * document is one arriving record and the batch path's
    * explode→groupBy aggregation has no streaming analog. The batch
    * side computes the identical values relationally
    * ([[minhashSigPlan]]); OperatorSpec pins per-document equality of
    * the two evaluations over the corpus, so the recipes cannot
    * drift. A document with no shingles returns empty — it is absent
    * from the batch signature table and can never be a candidate. */
  private[graft] def minhashBandSeq(text: String): Seq[(Int, String)] = {
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    var any = false
    val md = java.security.MessageDigest.getInstance("MD5")
    shingleSeq(text).foreach { sh =>
      any = true
      val d = md.digest(sh.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // First/second 4 bytes as unsigned 32-bit — exactly the batch
      // expr's conv(substring(md5(sh), 1, 8), 16, 10) / (, 9, 8).
      val h1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val h2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      var s = 0
      while (s < NumHashes) {
        val v = h1 + s * h2 // ≤ 36 bits — no overflow, same as batch
        if (v < mins(s)) mins(s) = v
        s += 1
      }
    }
    if (!any) Seq.empty
    else (0 until NumHashes / BandRows)
      .map(b => (b, s"${mins(2 * b)}_${mins(2 * b + 1)}"))
  }

  private def shingles(spark: SparkSession, sfDir: String,
      distinct: Boolean): DataFrame = {
    import spark.implicits._
    // distinct = per-document dedup inside the flatMap (see
    // [[shingleSeqDistinct]]) — DISTINCT (doc_id, sh) never needed a
    // shuffle, and removing it deletes a corpus-sized Exchange of
    // shingle text from every distinct consumer (q131/q147/q154/q144).
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        (if (distinct) shingleSeqDistinct(text) else shingleSeq(text))
          .map((id, _))
      }
      .toDF("doc_id", "sh")
  }

  /** Distinct (doc_id, source, sh) shingles — the [[shingles]] shape
    * widened with the source column for consumers that split the
    * corpus by provenance (TextAnalysis q68 decontamination). Lives
    * here so the Scala `split(" ", -1)` ↔ DuckDB `string_split`
    * pairing stays single-sourced (limit -1 keeps trailing empty
    * tokens exactly like `string_split` and Catalyst `split` do —
    * Scala's default limit-0 split would silently drop them,
    * diverging from the oracle on any trailing-space text). */
  private[operators] def shinglesWithSource(spark: SparkSession,
      sfDir: String, rowFilter: Option[Column] = None): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    // Filter BEFORE the shingle flatMap so it reaches the parquet
    // scan as a pushed predicate — a caller that wants one source
    // subset never pays to tokenize the rest of the corpus.
    rowFilter.fold(docs)(docs.filter)
      .as[(Long, String, String)]
      // DISTINCT (doc_id, source, sh) ≡ per-document dedup (source is
      // functionally dependent on doc_id) — done inside the flatMap,
      // not as a corpus-sized Exchange of shingle strings (§2.4).
      .flatMap { case (id, src, text) =>
        shingleSeqDistinct(text).map((id, src, _))
      }
      .toDF("doc_id", "source", "sh")
  }

  private val shinglesSql: String =
    s"""toks AS (
       |  SELECT doc_id, string_split(text,' ') AS t FROM documents
       |  WHERE len(string_split(text,' ')) >= $ShingleK
       |), sh AS (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(1, len(t)-1),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
       |    FROM toks) u
       |)""".stripMargin

  /** q21 — exact deduplication: hash-group identical texts, keep the
    * lowest doc_id. At 100 TB: group on md5(text) (fixed 32 bytes)
    * instead of shuffling full document bodies — exactly what this
    * plan does: the shuffle key below is the fingerprint, text never
    * travels. */
  def q21(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
      .orderBy("keeper_id")

  val q21Sql: String =
    """SELECT md5(text) AS fingerprint, min(doc_id) AS keeper_id,
      | count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keeper_id""".stripMargin

  /** q139 — normalized ("fuzzy-exact") dedup: q21's first-occurrence
    * hash dedup, but over a CANONICAL text form — lowercased,
    * punctuation stripped, whitespace collapsed, trimmed — so byte-
    * different reserializations of the same document (case flips,
    * doubled spaces, stray punctuation) collapse into one group. This
    * is the standard second dedup stage between exact (q21) and
    * near-dup (q22/q24): `n_raw_variants > 1` marks exactly the
    * groups exact dedup missed. Canonicalization is one shared
    * regex recipe evaluated by BOTH engines; lowering happens BEFORE
    * the `[^a-z0-9 ]` strip, so any non-ASCII byte is dropped
    * identically on both sides.
    *
    * Scale shape: identical to q21 — only 16-byte md5 signatures (one
    * per doc, plus the raw one for the variant count) ever shuffle,
    * never document bodies; one map-combined aggregate. Exercised for
    * real by the adversarial fixture's normalized-dup stratum (the
    * clean corpus has no normalized dups, like it has no exact ones). */
  /** q139's canonical-form signature — ONE definition shared by the
    * batch query and its streaming twin
    * (streaming/CorpusStreams.normalizedDedupStream), so the two
    * paths cannot canonicalize differently. */
  def normSig(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(trim(regexp_replace(regexp_replace(lower(text),
      "[^a-z0-9 ]", ""), " +", " ")))

  def q139(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("raw_sig"),
        normSig(col("text")).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"),
        countDistinct("raw_sig").cast("long").as("n_raw_variants"))
      .orderBy("keeper_id")

  val q139Sql: String =
    """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint,
      | min(doc_id) AS keeper_id, count(*) AS n_copies,
      | count(DISTINCT md5(text)) AS n_raw_variants
      |FROM documents GROUP BY 1 ORDER BY keeper_id""".stripMargin

  /** q22 — MinHash + LSH banding: 12 md5-based min-hashes per doc,
    * 6 bands × 2 rows; docs sharing any band signature are candidate
    * near-duplicates. Candidates come from grouping on (band_idx,
    * band_val) and expanding each bucket's sorted id list into pairs —
    * sub-quadratic (never an all-pairs product) and the signature
    * subtree is evaluated once, vs. twice for a self-join. 100 TB
    * caveat: a pathological bucket (thousands of byte-identical docs)
    * should be routed to exact dedup first (q21); bucket sizes here
    * are bounded by true near-dup cluster size. */
  /** q22's candidate pairs without the presentation sort — shared by
    * q22 (which adds the orderBy) and q62 (whose edge list doesn't
    * care about order). */
  /** The persisted MinHash signature table (doc_id, m0..m11) — shared
    * by [[minhashCandidates]] (q22/q62/q136/q140) and q144 (which
    * needs the raw component values, not just band buckets; min()
    * over the multiset input ≡ over distinct shingles — spec-pinned —
    * so the one memo table serves both the multiset and the
    * distinct-shingle consumers).
    *
    * Family-lifetime memo ([[graft.functions.FamilyIndex]]): the
    * signature INDEX is built once per (session, corpus fingerprint)
    * and served to every MinHash-family query in the session instead
    * of paying the corpus tokenize + md5 + 12-min aggregate per
    * query. The persisted relation is N docs × 12 longs —
    * signature-sized, never corpus bytes. */
  private[graft] val minhashSig = FamilyIndex.relation("minhash-sig", "documents") {
    (spark, sfDir) => minhashSigPlan(shingles(spark, sfDir, distinct = false))
  }

  /** Serve every dedup-family index memo for `sfDir` — the bench's
    * steady-state pre-build hook (Bench's q61 pre-create precedent: an
    * index is built once per corpus and SERVED; the timed cells
    * measure serving). The one-time build cost is timed per prebuild
    * call by perfbench's `memo_build_s`, and per query by DevProbe's
    * r1−r2 gap (it releases every memo, relations and driver values
    * alike, before r1). Returns the memo names, for the bench's log
    * line. */
  private[graft] def prebuildIndexes(spark: SparkSession, sfDir: String): Seq[String] =
    FamilyIndex.prebuild(spark, sfDir)(minhashSig, minhashCandidates, ccLabels,
      overlapPairs, ssjoinUniverse, ssjoinPrefix, ssjoinDocSigs, shingleDocSigs, spanDup)

  /** Un-persisted signature plan — the family memo ([[minhashSig]])
    * is its only caller; kept separate so the recipe reads standalone
    * and the memo wrapper stays pure lifecycle. */
  private def minhashSigPlan(sh: DataFrame): DataFrame = {
    // Kirsch-Mitzenmacher double hashing: ONE md5 per shingle, split
    // into two 32-bit halves h1/h2; the s-th hash is h1 + s·h2 (fits
    // in 36 bits — no overflow on either engine). Replaces 12 md5
    // evaluations per shingle row with one — measured ~40% off the
    // signature stage at sf0.1 — and shuffles 8-byte longs instead of
    // 32-char hex strings. min() over the derived family is the same
    // MinHash estimator (KM 2006 shows two independent hashes suffice).
    val withH = sh
      .withColumn("h", md5(col("sh")))
      .withColumn("h1", expr("CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("h2", expr("CAST(conv(substring(h, 9, 8), 16, 10) AS BIGINT)"))
    val minhashes = (0 until NumHashes).map(s =>
      min(col("h1") + lit(s.toLong) * col("h2")).as(s"m$s"))
    // The callers persist the signature table (N docs × 12 longs —
    // tiny relative to the corpus) and self-join on the band key: the
    // codegen'd hash join beats the collect_list + higher-order pair
    // expansion (CodegenFallback) and the shingle→minhash subtree
    // runs once.
    withH.groupBy("doc_id")
      .agg(minhashes.head, minhashes.tail: _*)
  }

  /** Banded LSH candidate pairs (doc_a, doc_b) — family-lifetime memo
    * ([[graft.functions.FamilyIndex]], r13): the band self-join +
    * distinct over the signature memo runs once per (session, corpus
    * fingerprint) and is SERVED to q22/q136/q140/q144 and the CC
    * family (q62/q121/q124 via [[ccLabels]]). The persisted relation
    * is the candidate EDGE LIST — O(near-dup pairs), orders of
    * magnitude below the corpus: the signature-memo argument applied
    * one step further down the shared lineage. */
  private val minhashCandidates = FamilyIndex.relation("minhash-cand", "documents") {
    (spark, sfDir) => minhashCandidatesFrom(minhashSig(spark, sfDir))
  }

  /** (doc_id, band_idx, band_val) from a signature table — the
    * relational half of the band recipe; [[minhashBandSeq]] is the
    * per-row JVM half and OperatorSpec pins their equality. */
  private[graft] def minhashBands(sig: DataFrame): DataFrame = {
    val bandPairs = (0 until NumHashes / BandRows)
      .map(b => s"$b, concat_ws('_', m${2 * b}, m${2 * b + 1})").mkString(", ")
    sig.select(col("doc_id"),
      expr(s"stack(${NumHashes / BandRows}, $bandPairs) AS (band_idx, band_val)"))
  }

  private def minhashCandidatesFrom(sig: DataFrame): DataFrame = {
    val bands = minhashBands(sig)
    bands.select(col("band_idx"), col("band_val"), col("doc_id").as("doc_a"))
      .join(bands.select(col("band_idx"), col("band_val"), col("doc_id").as("doc_b")),
        Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  def q22(spark: SparkSession, sfDir: String): DataFrame =
    minhashCandidates(spark, sfDir).orderBy("doc_a", "doc_b")

  /** CTE chain producing q22's candidate pairs as `cand22(doc_a,
    * doc_b)` — shared by q22Sql and q62Sql. */
  private val q22CandCte: String = {
    val minhashes = (0 until NumHashes)
      .map(s => s"min(h1 + $s * h2) AS m$s").mkString(", ")
    val bandSelects = (0 until NumHashes / BandRows)
      .map(b => s"SELECT doc_id, $b AS band_idx, " +
        s"CAST(m${2 * b} AS VARCHAR) || '_' || CAST(m${2 * b + 1} AS VARCHAR) AS band_val FROM mh")
      .mkString("\n  UNION ALL ")
    s"""$shinglesSql,
       |hashed AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substring(md5(sh), 1, 8)) AS BIGINT) AS h1,
       |    CAST(('0x' || substring(md5(sh), 9, 8)) AS BIGINT) AS h2
       |  FROM sh
       |),
       |mh AS (SELECT doc_id, $minhashes FROM hashed GROUP BY doc_id),
       |bands AS (
       |  $bandSelects
       |),
       |cand22 AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id
       |)""".stripMargin
  }

  val q22Sql: String =
    s"""WITH $q22CandCte
       |SELECT doc_a, doc_b FROM cand22
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q144 — MinHash calibration audit: for every q22 candidate pair,
    * the sketch's Jaccard estimate (fraction of the 12 signature
    * components that agree) against the EXACT shingle-set Jaccard,
    * bucketed by agreement count. This is the measurement that
    * justifies (or indicts) the 12-hash/6-band geometry before a
    * full-corpus dedup run trusts it: per agreement level it reports
    * how many pairs land there, the true mean Jaccard, and the mean
    * absolute estimator error.
    *
    * What it measures (and the spec pins): with Kirsch-Mitzenmacher
    * double hashing the 12 components are DEPENDENT — the s-th hash
    * is h1 + s·h2, so a shared shingle that minimizes both halves
    * wins every slot at once — and agreement is therefore nearly
    * binary rather than Binomial(12, J): true near-dups concentrate
    * in the full-agreement bin, every other bin's true mean Jaccard
    * sits far BELOW its estimate (weighted |est−J| ≈ 0.3–0.6 here vs
    * the ~J(1−J)/√12 an independent family would give). The
    * conclusion the audit operationalizes: KM banding is a cheap
    * candidate GATE, not a similarity score — the pipeline must keep
    * its exact-verification stage (q23/q134), and any threshold on
    * estimated similarity must be calibrated from this table, not
    * from independent-hash theory.
    *
    * Scale shape — the standard LSH estimate→VERIFY stage, fully
    * memo-served since r10: the estimate leg joins the MinHash
    * signature memo ([[minhashSig]] — min() over its multiset
    * shingles ≡ over distinct, spec-pinned) onto the candidate list;
    * the exact leg fetches each pair's UNCAPPED per-doc signature
    * arrays ([[shingleDocSigs]]) and intersects narrowly (the q154
    * verification shape — never a Σ|A|-row expansion, never all
    * pairs). The query itself creates no caches at all — every
    * relation it reads is a family-lifetime index. Output is ≤ 13
    * rows (one per agreement count).
    *
    * Engine-exactness: agreement counts and intersection sizes are
    * integers; the per-pair divisions are IEEE-on-identical-ints; the
    * two means aggregate in DECIMAL(28,12) before one floorRound.
    * A candidate pair CAN have n_inter = 0 (its shared band value can
    * arise from two different argmin shingles colliding in the 36-bit
    * hash space): size(array_intersect) yields the 0 natively here,
    * and the oracle's LEFT-join + coalesce-to-0 agrees. */
  def q144(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.OracleRound.floorRound
    val sig = minhashSig(spark, sfDir) // family memo — see its scaladoc
    val cand = minhashCandidates(spark, sfDir) // family memo (r13)
    // Exact leg over the UNCAPPED per-doc signature-array index
    // ([[shingleDocSigs]] — a family memo since r10): each candidate
    // pair fetches its two distinct-shingle sig sets and intersects
    // NARROWLY, the q154 verification shape — the previous row
    // expansion (cand ⋈ shingles on doc_a, then (doc_b, sh))
    // materialized Σ_cand |A| string rows and re-paid the corpus
    // tokenize + distinct per query. n_inter handles the
    // zero-overlap candidate case (a shared band value from two
    // different argmin shingles) natively — size(∩) is just 0 — so
    // the old LEFT-join + coalesce dance is gone.
    val ds = shingleDocSigs(spark, sfDir)
    val a = (0 until NumHashes).foldLeft(
      sig.withColumnRenamed("doc_id", "doc_a"))((d, s) => d.withColumnRenamed(s"m$s", s"a$s"))
    val b = (0 until NumHashes).foldLeft(
      sig.withColumnRenamed("doc_id", "doc_b"))((d, s) => d.withColumnRenamed(s"m$s", s"b$s"))
    // ONE linear pipeline: the array form removed the intersection
    // GROUP BY, so the old agree-branch ⋈ inter-branch reassembly
    // join is gone and the candidate relation is consumed exactly
    // once — no branch, no cache, no second band self-join.
    cand.join(a, "doc_a").join(b, "doc_b")
      .withColumn("n_agree", (0 until NumHashes)
        .map(s => when(col(s"a$s") === col(s"b$s"), 1L).otherwise(0L))
        .reduce(_ + _))
      .select("doc_a", "doc_b", "n_agree")
      .join(ds.select(col("doc_id").as("doc_a"), col("sigs").as("sa")), "doc_a")
      .join(ds.select(col("doc_id").as("doc_b"), col("sigs").as("sb")), "doc_b")
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("sh_a", size(col("sa")).cast("long"))
      .withColumn("sh_b", size(col("sb")).cast("long"))
      .withColumn("jt", col("n_inter").cast("double") /
        (col("sh_a") + col("sh_b") - col("n_inter")))
      .withColumn("err", abs(col("n_agree").cast("double") / NumHashes - col("jt")))
      .groupBy("n_agree")
      .agg(count(lit(1)).as("n_pairs"),
        floorRound(sum(col("jt").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 6).as("mean_jaccard"),
        floorRound(sum(col("err").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 6).as("mean_abs_err"))
      .withColumn("est_jaccard",
        floorRound(col("n_agree").cast("double") / NumHashes, 6))
      .select("n_agree", "est_jaccard", "n_pairs", "mean_jaccard", "mean_abs_err")
      .orderBy("n_agree")
  }

  val q144Sql: String = {
    import graft.functions.OracleRound.floorRoundSql
    val agreeSum = (0 until NumHashes)
      .map(s => s"CASE WHEN a.m$s = b.m$s THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $q22CandCte,
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |io AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
       |  FROM cand22 c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
       |  GROUP BY c.doc_a, c.doc_b),
       |agr AS (
       |  SELECT c.doc_a, c.doc_b, CAST($agreeSum AS BIGINT) AS n_agree
       |  FROM cand22 c
       |  JOIN mh a ON a.doc_id = c.doc_a
       |  JOIN mh b ON b.doc_id = c.doc_b),
       |vals AS (
       |  SELECT g.n_agree,
       |    CAST(coalesce(i.n_inter, 0) AS DOUBLE)
       |      / (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)) AS jt,
       |    abs(CAST(g.n_agree AS DOUBLE) / $NumHashes -
       |      CAST(coalesce(i.n_inter, 0) AS DOUBLE)
       |        / (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0))) AS err
       |  FROM agr g
       |  LEFT JOIN io i ON i.doc_a = g.doc_a AND i.doc_b = g.doc_b
       |  JOIN sizes sa ON sa.doc_id = g.doc_a
       |  JOIN sizes sb ON sb.doc_id = g.doc_b)
       |SELECT n_agree,
       |  ${floorRoundSql(s"CAST(n_agree AS DOUBLE) / $NumHashes", 6)} AS est_jaccard,
       |  count(*) AS n_pairs,
       |  ${floorRoundSql(
          "CAST(sum(CAST(jt AS DECIMAL(28,12))) AS DOUBLE) / count(*)", 6)} AS mean_jaccard,
       |  ${floorRoundSql(
          "CAST(sum(CAST(err AS DECIMAL(28,12))) AS DOUBLE) / count(*)", 6)} AS mean_abs_err
       |FROM vals GROUP BY n_agree ORDER BY n_agree""".stripMargin
  }

  /** Winnowing window: each run of [[WinnowW]] consecutive k-gram
    * hashes contributes its minimum — expected fingerprint density
    * 2/(W+1) of positions, with the guarantee that any shared
    * substring of ≥ W+k−1 words yields at least one shared print. */
  private val WinnowW = 4
  /** Bits reserved for the position in the packed (hash, pos) key:
    * 2²⁰ k-gram positions covers million-word documents (any sane
    * context length); widen toward the 63-bit budget (hash 40 bits +
    * pos 20 here) if a corpus carries longer single docs. */
  private val PosBits = 20

  /** q145 — winnowing fingerprints (the MOSS local-fingerprinting
    * scheme): per document, slide a W-window over the k-gram hash
    * sequence, keep each window's minimum (rightmost on ties — the
    * robust-winnowing rule), and report the fingerprint-set size plus
    * how much of it is shared with ANY other document. This is the
    * sublinear twin of q131's full n-gram boilerplate scan: winnowing
    * keeps ~2/(W+1) of positions yet still guarantees a shared print
    * for every shared run of ≥ W+k−1 words, so it localizes copied
    * passages at a fraction of the index size.
    *
    * Engine-exactness: the (hash ASC, pos DESC) argmin is packed into
    * ONE integer — key = h·2^20 + (2^20−1−pos), h 40-bit — so the
    * whole selection is a plain numeric window min, bit-identical on
    * both engines; no struct-ordering or argmin semantics to align.
    *
    * Scale shape: one corpus tokenize, the winnowing window is a
    * doc-partitioned ROWS frame (narrow after one shuffle on doc_id
    * — or zero shuffles when the source is already doc-bucketed);
    * selected prints collapse by DISTINCT before the df aggregate,
    * so the sharing pass runs on the ~2/(W+1)-sized print relation,
    * never a pair join (df ≥ 2 replaces the self-join entirely).
    * Docs with fewer than W k-grams have no full window and drop out
    * (both engines identically). */
  def q145(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.OracleRound.floorRound
    val psh = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        shingleSeq(text).zipWithIndex.map { case (sh, i) => (id, i + 1L, sh) }
      }.toDF("doc_id", "pos", "sh")
    val keyed = psh
      .withColumn("h", expr("CAST(conv(substring(md5(sh), 1, 10), 16, 10) AS BIGINT)"))
      .withColumn("key",
        col("h") * (1L << PosBits) + (lit((1L << PosBits) - 1) - col("pos")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(WinnowW - 1).toLong,
        org.apache.spark.sql.expressions.Window.currentRow)
    val sel = keyed.withColumn("selkey", min("key").over(w))
      .filter(col("pos") >= WinnowW)
      .select(col("doc_id"), expr(s"shiftright(selkey, $PosBits)").as("h"))
      .distinct()
    // n_shared per doc WITHOUT joining df back onto the print relation
    // (the q131 df=1 credit trick, §2.3/§2.4): sel is distinct on
    // (doc_id, h), so df = count(*) per h, a df = 1 print has exactly
    // ONE owner = min(doc_id) of its 1-row group, and
    // n_shared = n_prints − #(this doc's df = 1 prints). The old
    // print-relation-sized sel ⋈ dfs shuffle join disappears; the
    // unique credit is a map-combined rollup of the df = 1 subset.
    // No cache: both consumers' subtrees share the window's doc_id
    // Exchange (ReusedExchange — identical children), the distinct
    // and perDocN aggregates run exchange-free on that partitioning
    // (doc_id ⊆ every grouping key), and only dfs re-exchanges the
    // print-sized relation on h.
    val dfs = sel.groupBy("h")
      .agg(count(lit(1)).as("df"), min("doc_id").as("d1"))
    val perDocN = sel.groupBy("doc_id").agg(count(lit(1)).as("n_prints"))
    val uniq = dfs.filter(col("df") === 1)
      .groupBy(col("d1").as("doc_id")).agg(count(lit(1)).as("n_uniq"))
    perDocN.join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_prints"),
        (col("n_prints") - coalesce(col("n_uniq"), lit(0L))).as("n_shared"))
      .withColumn("shared_frac",
        floorRound(col("n_shared").cast("double") / col("n_prints"), 6))
      .orderBy("doc_id")
  }

  val q145Sql: String = {
    import graft.functions.OracleRound.floorRoundSql
    val posMask = (1L << PosBits) - 1
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text,' ') AS t FROM documents
       |  WHERE len(string_split(text,' ')) >= $ShingleK
       |), posr AS (
       |  SELECT doc_id, unnest(range(1, len(t)-1)) AS pos, t FROM toks
       |), keyed AS (
       |  SELECT doc_id, pos,
       |    CAST(('0x' || substring(md5(t[pos] || ' ' || t[pos+1] || ' ' || t[pos+2]), 1, 10)) AS BIGINT)
       |      * ${1L << PosBits} + ($posMask - pos) AS key
       |  FROM posr
       |), sel0 AS (
       |  SELECT doc_id, pos,
       |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS selkey
       |  FROM keyed
       |), sel AS (
       |  SELECT DISTINCT doc_id, selkey >> $PosBits AS h
       |  FROM sel0 WHERE pos >= $WinnowW
       |), dfs AS (SELECT h, count(DISTINCT doc_id) AS df FROM sel GROUP BY h),
       |stats AS (
       |  SELECT s.doc_id, count(*) AS n_prints,
       |    CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
       |  FROM sel s JOIN dfs d ON d.h = s.h
       |  GROUP BY s.doc_id)
       |SELECT doc_id, n_prints, n_shared,
       |  ${floorRoundSql("CAST(n_shared AS DOUBLE) / n_prints", 6)} AS shared_frac
       |FROM stats ORDER BY doc_id""".stripMargin
  }

  /** Document-frequency cutoff for q23: shingles present in more than
    * this many documents are dropped from BOTH the intersection and
    * the union before Jaccard. A shingle in d docs contributes d²
    * join pairs, so without a cutoff one stop-phrase 3-gram at
    * 100 TB (df ~ 10⁸) alone is 10¹⁶ pairs — the cutoff bounds every
    * shingle's contribution to T² and is the standard "informative
    * shingles" restriction. T = 20 keeps > 99% of join volume at
    * sf0.1 informative (59 of 27k shingles dropped) and filters
    * nothing at sf0.01 (max df there is 7). */
  private val MaxShingleDf = 20

  /** Shared overlap engine for q23 (Jaccard) and q134 (containment):
    * (doc_a, doc_b, n_inter, sh_a, sh_b) for every pair of documents
    * sharing at least one df-bounded informative shingle.
    *
    * Shingles are replaced by 96-bit md5-derived (h1, h2) long pairs
    * BEFORE the one shuffle: equality is all set-overlap needs, two
    * longs shuffle/compare much cheaper than ~25-char strings, and
    * 96 bits over ~10⁶ shingles makes a collision ~10⁻¹⁷. The whole
    * dedup + df-cutoff is ONE hash aggregate on (h1, h2) with a
    * bounded distinct-set collector (functions/BoundedDocSet): the
    * agg buffer holds at most T+1 doc ids per shingle no matter how
    * hot the shingle (partial aggregation bounds the shuffle the
    * same way), buckets that overflow are exactly the df > T
    * shingles and are dropped, and surviving buckets are complete
    * sorted doc sets. Within-bucket pair expansion (≤ T²/2 pairs by
    * construction) then replaces the earlier distinct → df-join →
    * self-join chain: 4 exchanges + 2 joins became 1 exchange + 1
    * explode — measured faster at sf0.1 and strictly safer at
    * 100 TB (no unbounded collect, no hot-key join fan-out). */
  private def overlapBuckets(spark: SparkSession, sfDir: String): DataFrame =
    shingles(spark, sfDir, distinct = false)
      .withColumn("h", md5(col("sh")))
      .select(col("doc_id"),
        expr("CAST(conv(substring(h, 1, 12), 16, 10) AS BIGINT)").as("h1"),
        expr("CAST(conv(substring(h, 13, 12), 16, 10) AS BIGINT)").as("h2"))
      .groupBy("h1", "h2")
      .agg(graft.functions.BoundedDocSet.bounded_doc_set(MaxShingleDf)(col("doc_id")).as("ids"))
      .filter(size(col("ids")) <= MaxShingleDf)

  /** Pair expansion + per-doc size attach over a (possibly cached)
    * bucket relation. The sizes joins are deliberately UNHINTED:
    * `sizes` has one row per document holding any informative shingle
    * — essentially O(corpus) — and a hint-forced broadcast of a
    * data-dependent relation that grows with the corpus is the
    * driver-OOM-at-100TB class (the q154/q163 lesson). AQE broadcasts
    * it while its measured size fits and falls back to a shuffle join
    * keyed on doc_a/doc_b past that; a PlanShapeSpec probe pins that
    * nothing here survives autoBroadcastJoinThreshold=-1. */
  private def overlapPairsOn(buckets: DataFrame): DataFrame = {
    val sizes = buckets.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = buckets
      .select(explode(expr(
        """flatten(transform(ids, (a, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |    b -> named_struct('doc_a', a, 'doc_b', b))))""".stripMargin)).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "sh_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "sh_b"), "doc_b")
  }

  /** Un-memoized, un-persisted overlap relation — plan-shape
    * observability ONLY (the family copy served by [[overlapPairs]]
    * renders as an InMemoryTableScan in explain, which hides the join
    * strategy from the PlanShapeSpec probes). Same code path as the
    * real build: [[overlapPairsOn]] over [[overlapBuckets]]. */
  private[graft] def overlapPairsPlan(spark: SparkSession, sfDir: String): DataFrame =
    overlapPairsOn(overlapBuckets(spark, sfDir))

  /** Family-lifetime memo of the overlap-pair index
    * ([[graft.functions.FamilyIndex]] — "index built once, served by
    * the family", the `trainedCentroids` precedent): q23 (Jaccard)
    * and q134 (containment) consume the IDENTICAL (doc_a, doc_b,
    * n_inter, sh_a, sh_b) relation, and with caches drained per query
    * each used to pay the full tokenize + bucket + expand build. The
    * persisted relation is pair-bounded (≤ T²/2 pairs per informative
    * shingle bucket by the [[MaxShingleDf]] construction), never
    * corpus bytes; the build's bucket cache is released as soon as
    * the pair table materializes. */
  private val overlapPairs = FamilyIndex.relation("overlap-pairs", "documents") {
    (spark, sfDir) =>
      val buckets = overlapBuckets(spark, sfDir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      buckets.count() // eager — sizes and pair expansion both read the cache
      val pairs = overlapPairsOn(buckets)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pairs.count() // eager — the bucket cache must not outlive the build
      buckets.unpersist(false)
      pairs
  }

  /** q23 — exact n-gram Jaccard similarity: pairs sharing shingles,
    * J = |∩| / |∪| ≥ 0.5, over df-bounded shingles (see
    * [[MaxShingleDf]]). Pair space is bounded to docs sharing an
    * informative shingle, and the cutoff bounds each shingle's pair
    * fan-out to T²/2. At 100 TB this also runs well on LSH candidates
    * (q22) only; here it doubles as the oracle-checked ground truth
    * for them. */
  def q23(spark: SparkSession, sfDir: String): DataFrame =
    overlapPairs(spark, sfDir)
      .withColumn("jaccard", graft.functions.OracleRound.floorRound(
        col("n_inter").cast("double") / (col("sh_a") + col("sh_b") - col("n_inter")), 6))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "n_inter", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** CTE chain producing [[overlapPairs]]'s relation as
    * `inter(doc_a, doc_b, n_inter)` + `sizes(doc_id, n_sh)` — shared
    * by q23Sql and q134Sql. */
  private val overlapCteSql: String =
    s"""$shinglesSql,
       |shf AS (
       |  SELECT doc_id, sh FROM (
       |    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh) t
       |  WHERE df <= $MaxShingleDf
       |),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |)""".stripMargin

  val q23Sql: String =
    s"""WITH $overlapCteSql
       |SELECT doc_a, doc_b, n_inter,
       | floor(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) * 1000000 + 0.5) / 1000000 AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE floor(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) * 1000000 + 0.5) / 1000000 >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Containment cutoff for q134. 0.3 is deliberately below q23's
    * Jaccard 0.5 so the asymmetric regime is visible: a short doc
    * fully contained in a long one maxes containment while Jaccard
    * stays near |A|/|B|. */
  private val ContainMin = 0.3

  /** q134 — asymmetric shingle containment (Broder's C(A,B) =
    * |A∩B| / |A|): the subset-duplicate detector Jaccard misses. A
    * snippet pasted into a 10× longer page has J ≈ 0.1 (q23 drops
    * it) but containment ≈ 1.0 — exactly the "quoted boilerplate /
    * wrapped article" duplication mode in web corpora, so a training
    * pipeline audits both. Emits every informative-shingle pair with
    * max(C(A,B), C(B,A)) ≥ [[ContainMin]], flagging pairs whose
    * Jaccard is below the cutoff (`is_asym` — containment-only
    * duplicates, invisible to q23; 20 such pairs at sf0.1, 0 at
    * sf0.01 where all duplication is whole-doc).
    *
    * Scale shape: identical to q23 — the same [[overlapPairs]]
    * bounded-bucket engine (one shuffle, ≤ T²/2 pairs per shingle),
    * only the final scalar arithmetic differs. The containment
    * denominators come from the same broadcast `sizes` table. */
  def q134(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.OracleRound.floorRound
    overlapPairs(spark, sfDir)
      .withColumn("cont_a", floorRound(col("n_inter").cast("double") / col("sh_a"), 6))
      .withColumn("cont_b", floorRound(col("n_inter").cast("double") / col("sh_b"), 6))
      .withColumn("containment", greatest(col("cont_a"), col("cont_b")))
      .withColumn("jaccard", floorRound(
        col("n_inter").cast("double") / (col("sh_a") + col("sh_b") - col("n_inter")), 6))
      .filter(col("containment") >= ContainMin)
      .withColumn("is_asym",
        when(col("jaccard") < ContainMin, lit(1L)).otherwise(lit(0L)))
      .select("doc_a", "doc_b", "n_inter", "cont_a", "cont_b", "jaccard", "is_asym")
      .orderBy("doc_a", "doc_b")
  }

  val q134Sql: String = {
    val contA = "floor(CAST(n_inter AS DOUBLE) / sa.n_sh * 1000000 + 0.5) / 1000000"
    val contB = "floor(CAST(n_inter AS DOUBLE) / sb.n_sh * 1000000 + 0.5) / 1000000"
    val jac = "floor(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) * 1000000 + 0.5) / 1000000"
    s"""WITH $overlapCteSql
       |SELECT doc_a, doc_b, n_inter,
       | $contA AS cont_a,
       | $contB AS cont_b,
       | $jac AS jaccard,
       | CAST(CASE WHEN $jac < $ContainMin THEN 1 ELSE 0 END AS BIGINT) AS is_asym
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE greatest($contA, $contB) >= $ContainMin
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q136 — NEAR-dup cross-split leakage: q101 audits q80's
    * train/val/test split for *exact* shingle sharing; this is its
    * fuzzy twin — an eval document is "leaked" if MinHash-LSH banding
    * (q22's candidate engine, verbatim) pairs it with ANY train
    * document. Catches the paraphrased/lightly-edited eval
    * contamination an exact-overlap audit misses, which is the case
    * that actually inflates benchmark scores. Per eval split: doc
    * count, crossing candidate-pair count, leaked-doc count, ratio.
    *
    * Scale shape: candidate generation is q22's banded shuffle
    * (never all-pairs); split labels are md5 arithmetic computed
    * IN-LINE on the pair table — no join against a split table, so
    * beyond the shared candidate engine the audit adds only an
    * O(pairs) projection and two tiny aggregates. */
  def q136(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.{HashBucket, OracleRound}
    val cand = minhashCandidates(spark, sfDir)
      .withColumn("split_a", expr(HashBucket.splitExpr("doc_a")))
      .withColumn("split_b", expr(HashBucket.splitExpr("doc_b")))
    // Normalize each train↔eval pair to (eval doc, its split); pairs
    // within train or within eval splits are not leakage.
    val crossing = cand
      .filter((col("split_a") === "train") =!= (col("split_b") === "train"))
      .select(
        when(col("split_a") === "train", col("doc_b")).otherwise(col("doc_a")).as("doc_id"),
        when(col("split_a") === "train", col("split_b")).otherwise(col("split_a")).as("split"))
    val leaked = crossing.groupBy("split")
      .agg(count(lit(1)).as("n_pairs"), countDistinct("doc_id").as("n_leaked"))
    val evalDocs = Tables.documents(spark, sfDir)
      .select(expr(HashBucket.splitExpr("doc_id")).as("split"))
      .filter(col("split") =!= "train")
      .groupBy("split").agg(count(lit(1)).as("n_docs"))
    evalDocs.join(leaked, Seq("split"), "left")
      .select(col("split"), col("n_docs"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        OracleRound.floorRound(
          coalesce(col("n_leaked"), lit(0L)).cast("double") / col("n_docs"), 6)
          .as("leak_ratio"))
      .orderBy("split")
  }

  val q136Sql: String = {
    import graft.functions.HashBucket
    s"""WITH $q22CandCte,
       |sp AS (
       |  SELECT doc_a, doc_b,
       |    ${HashBucket.splitSql("doc_a")} AS split_a,
       |    ${HashBucket.splitSql("doc_b")} AS split_b
       |  FROM cand22),
       |crossing AS (
       |  SELECT CASE WHEN split_a = 'train' THEN doc_b ELSE doc_a END AS doc_id,
       |         CASE WHEN split_a = 'train' THEN split_b ELSE split_a END AS split
       |  FROM sp WHERE (split_a = 'train') <> (split_b = 'train')),
       |leaked AS (
       |  SELECT split, count(*) AS n_pairs, count(DISTINCT doc_id) AS n_leaked
       |  FROM crossing GROUP BY split),
       |ev AS (
       |  SELECT split, count(*) AS n_docs FROM (
       |    SELECT ${HashBucket.splitSql("doc_id")} AS split FROM documents) s
       |  WHERE split <> 'train' GROUP BY split)
       |SELECT e.split, e.n_docs,
       |  coalesce(l.n_pairs, 0) AS n_pairs,
       |  coalesce(l.n_leaked, 0) AS n_leaked,
       |  ${graft.functions.OracleRound.floorRoundSql(
             "CAST(coalesce(l.n_leaked, 0) AS DOUBLE) / e.n_docs", 6)} AS leak_ratio
       |FROM ev e LEFT JOIN leaked l ON e.split = l.split
       |ORDER BY e.split""".stripMargin
  }

  /** q140 — cross-source duplication matrix: q22's LSH candidate
    * pairs rolled up by (source, source) — which sources duplicate
    * which. The provenance diagnostic behind mixture decisions: a hot
    * off-diagonal cell means one source is syndicating/scraping
    * another (its marginal contribution to the mixture is smaller
    * than its token count suggests), while a hot diagonal cell is
    * intra-source boilerplate. Emits per unordered source pair the
    * candidate-pair count, the distinct docs involved, and a
    * cross-source flag.
    *
    * Scale shape: candidate generation is q22's banded shuffle
    * (never all-pairs). Source attribution is two equi-joins of the
    * O(candidates) pair table against the (doc_id, source)
    * projection — shuffle joins keyed on doc_id, the only
    * corpus-sized legs, each column-pruned to 2 columns at the scan.
    * Pair count and distinct-doc count come from ONE aggregate over
    * the endpoint-exploded pairs (each pair contributes exactly 2
    * rows, so n_pairs = rows/2 is exact); output is O(sources²). */
  def q140(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val keyed = minhashCandidates(spark, sfDir)
      .join(src.toDF("doc_a", "src_a"), "doc_a")
      .join(src.toDF("doc_b", "src_b"), "doc_b")
      .select(least(col("src_a"), col("src_b")).as("source_lo"),
        greatest(col("src_a"), col("src_b")).as("source_hi"),
        col("doc_a"), col("doc_b"))
    keyed
      .select(col("source_lo"), col("source_hi"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy("source_lo", "source_hi")
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        countDistinct("doc_id").cast("long").as("n_docs"))
      .withColumn("is_cross",
        when(col("source_lo") =!= col("source_hi"), 1L).otherwise(0L))
      .orderBy("source_lo", "source_hi")
  }

  val q140Sql: String =
    s"""WITH $q22CandCte,
       |keyed AS (
       |  SELECT least(sa.source, sb.source) AS source_lo,
       |         greatest(sa.source, sb.source) AS source_hi,
       |         doc_a, doc_b
       |  FROM cand22
       |  JOIN documents sa ON sa.doc_id = doc_a
       |  JOIN documents sb ON sb.doc_id = doc_b),
       |ends AS (
       |  SELECT source_lo, source_hi, doc_a AS doc_id FROM keyed
       |  UNION ALL
       |  SELECT source_lo, source_hi, doc_b AS doc_id FROM keyed)
       |SELECT source_lo, source_hi,
       |  CAST(count(*) / 2 AS BIGINT) AS n_pairs,
       |  count(DISTINCT doc_id) AS n_docs,
       |  CAST(CASE WHEN source_lo <> source_hi THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_cross
       |FROM ends GROUP BY source_lo, source_hi
       |ORDER BY source_lo, source_hi""".stripMargin

  /** q24 — SimHash fingerprint (32-bit, over md5 hex-digit high bits of each
    * token): per bit, +1/-1 votes weighted by token frequency; the
    * sign vector packs into one integer. Single shuffle on doc_id;
    * near-dup lookup at scale is then a Hamming-ball probe over the
    * fingerprint column. */
  /** (doc_id, simhash) without the presentation sort — shared by q24
    * (which adds the orderBy) and q35 (which would only waste a sort
    * before its block-key shuffle). */
  private def simhashSig(spark: SparkSession, sfDir: String): DataFrame = {
    // Bit p of a token's md5 is the high bit of hex nibble p. Rather
    // than 32 substring+instr chains (huge generated code, measured
    // bimodal JIT behavior), decode the 32 nibbles as four 32-bit
    // integer chunks once and extract bits with shift/and; the vote
    // s_p = Σ±1 > 0 is equivalent to 2·(count of 1-bits) > n.
    // Values are bit-identical to the strpos formulation the DuckDB
    // oracle keeps using.
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", md5(col("tok")))
      .withColumn("c0", expr("CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("c1", expr("CAST(conv(substring(h, 9, 8), 16, 10) AS BIGINT)"))
      .withColumn("c2", expr("CAST(conv(substring(h, 17, 8), 16, 10) AS BIGINT)"))
      .withColumn("c3", expr("CAST(conv(substring(h, 25, 8), 16, 10) AS BIGINT)"))
    val bitSums = (1 to 32).map { p =>
      val chunk = (p - 1) / 8
      val shift = 4 * (7 - (p - 1) % 8) + 3
      sum(expr(s"(c$chunk >> $shift) & 1")).as(s"b$p")
    }
    tok.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), bitSums: _*)
      .select(col("doc_id"),
        (1 to 32).map(p => when(col(s"b$p") * 2 > col("n"), lit(1L << (p - 1))).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  def q24(spark: SparkSession, sfDir: String): DataFrame =
    simhashSig(spark, sfDir).orderBy("doc_id")

  /** Shared CTE text computing (doc_id, simhash) — q24's pipeline,
    * reused by q35's banding oracle. */
  private val simhashCte: String = {
    val votes = (1 to 32).map(p =>
      s"sum(CASE WHEN strpos('0123456789abcdef', substring(h,$p,1))-1 >= 8 THEN 1 ELSE -1 END) AS s$p")
      .mkString(",\n    ")
    val packed = (1 to 32)
      .map(p => s"(CASE WHEN s$p > 0 THEN ${1L << (p - 1)} ELSE 0 END)")
      .mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents
       |), hashed AS (
       |  SELECT doc_id, md5(tok) AS h FROM tok
       |), s AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM hashed GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id, CAST($packed AS BIGINT) AS simhash FROM s
       |)""".stripMargin
  }

  val q24Sql: String =
    s"""WITH $simhashCte
       |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin

  /** 64-bit SimHash signature stored as four 16-bit blocks
    * (doc_id, s0..s3): bit p (0-based) is the majority vote of bit p
    * of each token's 128-bit md5 (decoded as two 32-bit chunks,
    * shift/and bit extraction — small generated code). Kept as four
    * shorts rather than one packed long so neither engine hits signed
    * 64-bit overflow on bit 63, and the banding blocks ARE the
    * columns.
    *
    * The 64 per-bit vote counts are lane-packed into 16 aggregate
    * columns (4 lanes × 16 bits per long): each token contributes
    * bit_p · 2^(16·lane), so one sum() accumulates four independent
    * counters with no carry while each lane stays < 2^16. This
    * replaces the earlier 64-column aggregate — the per-token
    * shift/and work is identical, but the aggregation buffer and
    * partial-agg hash rows shrink 4×, which was the #2 bench cost
    * (6.6 s at sf0.1). Capacity bound: documents up to 32,767 tokens
    * — lanes 0-2 tolerate 65,535 before inter-lane carry, but lane 3
    * sits in bits 48-63 of a SIGNED long, so a count ≥ 2¹⁵ there
    * overflows into the sign bit (and Spark's non-ANSI sum would wrap
    * SILENTLY where DuckDB errors loudly — the worst kind of
    * divergence). Guarded by raise_error on the token count that
    * rides along anyway; longer docs need a two-level (chunked)
    * aggregation. */
  private def simhashSig64(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", md5(col("tok")))
      .withColumn("c0", expr("CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("c1", expr("CAST(conv(substring(h, 9, 8), 16, 10) AS BIGINT)"))
    val laneSums = (0 until 16).map { g =>
      val perTok = (0 until 4).map { j =>
        val p = 4 * g + j
        s"((c${p / 32} >> ${31 - p % 32}) & 1) * ${1L << (16 * j)}"
      }.mkString(" + ")
      sum(expr(perTok)).as(s"g$g")
    }
    val withLanes = tok.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), laneSums: _*)
      // overflow guard (see scaladoc): every downstream bit test reads
      // n, so routing n through the check makes it unprunable.
      .withColumn("n", expr(
        "CASE WHEN n < 32768 THEN n ELSE CAST(raise_error(concat(" +
          "'q35 lane-packed SimHash overflow: doc ', CAST(doc_id AS STRING), " +
          "' has ', CAST(n AS STRING), ' tokens (max 32767); use chunked aggregation')) AS BIGINT) END"))
    val blockCols = (0 until 4).map { blk =>
      (0 until 16).map { i =>
        val p = 16 * blk + i
        val g = p / 4
        val j = p % 4
        when(expr(s"(g$g >> ${16 * j}) & 65535") * 2 > col("n"),
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"s$blk")
    }
    withLanes.select(col("doc_id") +: blockCols: _*)
  }

  /** q35 — SimHash near-duplicate pairs via multi-index (pigeonhole)
    * banding: any pair with Hamming distance ≤ 3 over the 64-bit
    * fingerprint must agree on at least one of its four 16-bit
    * blocks, so a self-join on (block_idx, block_val) finds all such
    * pairs without an all-pairs product; the exact Hamming filter
    * (per-block bit_count of xor) keeps true near-dups. Block width
    * matters: 8-bit blocks over this corpus put 3.2k docs in one hot
    * bucket (7.5 M candidate pairs at sf0.1); 16-bit blocks cut that
    * to 191 k with a max bucket of 291 — measured, and the reason the
    * signature is 64-bit. At 100 TB this is the standard
    * sub-quadratic Hamming search: 4 shuffles of 8-byte signatures,
    * never documents; the signature table persists (N × 40 B) and the
    * self-join reads the cache. */
  def q35(spark: SparkSession, sfDir: String): DataFrame = {
    val sig = simhashSig64(spark, sfDir)
      .scopedCache
    sig.count() // eager materialization — see q23
    val blockPairs = (0 until 4).map(b => s"$b, s$b").mkString(", ")
    val blocks = sig.selectExpr("doc_id", "s0", "s1", "s2", "s3",
      s"stack(4, $blockPairs) AS (block_idx, block_val)")
    val a = blocks.select(col("block_idx"), col("block_val"),
      col("doc_id").as("doc_a"), col("s0").as("a0"), col("s1").as("a1"),
      col("s2").as("a2"), col("s3").as("a3"))
    val b = blocks.select(col("block_idx"), col("block_val"),
      col("doc_id").as("doc_b"), col("s0").as("b0"), col("s1").as("b1"),
      col("s2").as("b2"), col("s3").as("b3"))
    a.join(b, Seq("block_idx", "block_val"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr(
        "bit_count(a0 ^ b0) + bit_count(a1 ^ b1) + bit_count(a2 ^ b2) + bit_count(a3 ^ b3)")
        .cast("long"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  val q35Sql: String = {
    // Mirrors the lane-packed Spark aggregate: 16 packed sums (4 × 16-bit
    // lanes each) instead of 64 per-bit sums; DuckDB's sum(BIGINT) widens
    // to HUGEINT, so cast back before the lane shifts.
    val bits = (0 until 16).map { g =>
      val perTok = (0 until 4).map { j =>
        val p = 4 * g + j
        s"((c${p / 32} >> ${31 - p % 32}) & 1) * ${1L << (16 * j)}"
      }.mkString(" + ")
      s"CAST(sum($perTok) AS BIGINT) AS g$g"
    }.mkString(",\n    ")
    val blockCols = (0 until 4).map { blk =>
      (0 until 16).map { i =>
        val p = 16 * blk + i
        val g = p / 4
        val j = p % 4
        s"(CASE WHEN 2*((g$g >> ${16 * j}) & 65535) > n THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ") + s" AS s$blk"
    }.mkString(",\n    ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents
       |), hashed AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS c0,
       |    CAST(('0x' || substring(md5(tok), 9, 8)) AS BIGINT) AS c1
       |  FROM tok
       |), s AS (
       |  SELECT doc_id, count(*) AS n,
       |    $bits
       |  FROM hashed GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id,
       |    $blockCols
       |  FROM s
       |), blocks AS (
       |  SELECT doc_id, s0, s1, s2, s3, b.b AS block_idx,
       |    CASE b.b WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2 ELSE s3 END AS block_val
       |  FROM sig, (VALUES (0),(1),(2),(3)) b(b)
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.s0 AS a0, a.s1 AS a1, a.s2 AS a2, a.s3 AS a3,
       |    b.s0 AS b0, b.s1 AS b1, b.s2 AS b2, b.s3 AS b3
       |  FROM blocks a JOIN blocks b
       |    ON a.block_idx = b.block_idx AND a.block_val = b.block_val
       |   AND a.doc_id < b.doc_id
       |)
       |SELECT doc_a, doc_b,
       | CAST(bit_count(xor(a0,b0)) + bit_count(xor(a1,b1))
       |    + bit_count(xor(a2,b2)) + bit_count(xor(a3,b3)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(a0,b0)) + bit_count(xor(a1,b1))
       |    + bit_count(xor(a2,b2)) + bit_count(xor(a3,b3)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q62 — near-duplicate CLUSTERS: connected components over the
    * MinHash-LSH candidate pairs (q22), labels = the component's
    * minimum doc_id. Pairs alone under-serve a dedup pipeline — if
    * A~B and B~C, keeping "one per pair" can still keep two of
    * {A,B,C}; the component is the dedup unit (keep its min id, drop
    * the rest). Two physical strategies behind one logical op, chosen
    * at runtime from the measured edge count (see inline comment):
    * a one-task union-find when the candidate graph is small, and
    * iterative min-label propagation above the cutoff — each round
    * joins labels to the symmetric edge list and takes the min over
    * self ∪ neighbors until a fixpoint, O(log diameter) rounds with
    * pointer jumping, every round one shuffle join + one partial agg
    * on (id): the textbook large-graph CC shape (label propagation à
    * la Pregel/GraphX, which Spark ships only for RDDs; this is the
    * DataFrame re-expression). Both paths produce identical labels
    * (OperatorSpec pins the loop path against the oracle too). The
    * oracle computes the same components via a recursive
    * transitive-closure CTE — feasible for DuckDB at verification
    * scale, not a plan you'd run at 100 TB. */
  def q62(spark: SparkSession, sfDir: String): DataFrame =
    ccLabels(spark, sfDir)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), max("id").as("max_doc"))
      .orderBy("cluster_id")

  /** Connected-component labels (id, label = component minimum) over
    * the LSH candidate graph — the shared engine behind q62's cluster
    * report, q121's canonicalization decisions, and q124's composed
    * capstone.
    *
    * Family-lifetime memo ([[graft.functions.FamilyIndex]], r13): the
    * labels are a per-corpus artifact — exactly what q124's scaladoc
    * preaches ("a real nightly job ships CC labels ONCE and derives
    * every downstream report from them") — so like the signature and
    * candidate memos they are built once per (session, corpus
    * fingerprint) and SERVED; each of the three consumers previously
    * re-ran the edge build + components per query. The persisted
    * relation is O(clustered docs) — two longs per clustered doc. */
  private[graft] val ccLabels = FamilyIndex.relation("cc-labels", "documents") { (spark, sfDir) =>
    val pairs = minhashCandidates(spark, sfDir)
    // Hash-partitioned on src BEFORE the persist: every loop round
    // joins edges on src, and a cached HashPartitioning(src) layout
    // satisfies the join's distribution requirement — so only the
    // (smaller) label side shuffles each round, not the edge list.
    // Build-scoped persist (not scopedCache: a harness drain mid-build
    // cannot happen, and the blocks are released right below).
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(8, col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edgeCount = edges.count()
    // Runtime-adaptive strategy, in the AQE spirit (re-plan from a
    // measured statistic — here the edge count the persist already
    // paid for): the LSH candidate graph is orders of magnitude
    // smaller than the corpus (near-dup pairs, not documents), and
    // when it fits one task comfortably, a single-executor union-find
    // via mapPartitions beats ~10 rounds × 3 shuffles of fixed
    // scheduling latency by ~5× measured at sf0.1 — the same reason
    // DuckDB runs this whole query single-node. This is NOT a driver
    // collect: the work runs in an executor task, the result is a
    // distributed DataFrame, and above the cutoff the O(log diameter)
    // label-propagation loop below takes over unchanged.
    //
    // Memo-lifetime materialization: the served copy lives in the
    // CacheManager (so FamilyIndex's self-heal check sees it); the
    // single-task path skips its caller-protection checkpoint (the
    // eager persist below materializes while `edges` is still
    // cached, and a recompute re-derives from the candidate MEMO,
    // not the corpus), and the loop path frees its final checkpoint
    // RDD once the persisted copy is counted (the loop's own
    // freeRound argument: the persisted blocks are the serving copy,
    // the truncated lineage behind them is never read again).
    val viaLoop = edgeCount > CcSingleTaskMaxEdges
    val labels0 =
      if (viaLoop) ccLoop(spark, edges, registerFinal = false)
      else ccSingleTask(spark, edges, checkpoint = false)
    val labels = labels0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    labels.count()
    if (viaLoop)
      graft.functions.CacheScope.checkpointRdds(labels0)
        .foreach(_.unpersist(blocking = false))
    edges.unpersist(false)
    labels
  }

  /** q121 — near-dup cluster canonicalization: turn q62's connected
    * components into the enforcement decision every dedup pipeline
    * actually ships — per clustered document, WHICH copy survives.
    * Canonical = the component's minimum doc_id (which IS the CC
    * label, so no extra ranking pass exists at all); everything else
    * in the cluster is a drop. Singleton documents never enter the
    * candidate graph and are implicitly kept — the decision list is
    * O(clustered docs), not O(corpus). The per-cluster size joins in
    * as a broadcast (O(clusters) rows). */
  def q121(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = ccLabels(spark, sfDir)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("n_docs"))
    labels.join(broadcast(sizes), "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        (col("id") === col("label")).as("is_canonical"), col("n_docs"))
      .orderBy("cluster_id", "doc_id")
  }

  /** Union-find over the whole (small) edge list in ONE executor task.
    * Attach-larger-root-under-smaller union + path compression, so a
    * component's root IS its minimum node id — exactly the loop's
    * fixpoint labels. Eagerly checkpointed: the caller unpersists the
    * edge cache right after, and a lazy plan would silently recompute
    * the full candidate subtree on first action. Memory bound: ≤
    * [[CcSingleTaskMaxEdges]] edges × 2 endpoints × ~40 B of LongMap
    * entry ≈ low hundreds of MB, well inside an executor task. */
  private[graft] def ccSingleTask(spark: SparkSession, edges: DataFrame,
      checkpoint: Boolean = true): DataFrame = {
    import spark.implicits._
    val uf = edges.select(col("src"), col("dst")).as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (s, d) =>
          parent.getOrElseUpdate(s, s); parent.getOrElseUpdate(d, d)
          val rs = find(s); val rd = find(d)
          if (rs < rd) parent(rd) = rs else if (rd < rs) parent(rs) = rd
        }
        val ks = parent.keys.toArray
        ks.iterator.map(k => (k, find(k)))
      }
      .toDF("id", "label")
    // checkpoint = caller protection for the standalone path (the
    // caller unpersists the edge cache right after, and a lazy plan
    // would silently recompute the full candidate subtree); the
    // family-memo build passes false — it persists and eagerly
    // materializes the result itself, and its lineage re-derives
    // from the candidate MEMO, not the corpus. Registered blocks are
    // freed at the harness's drainCheckpoints(); the ContextCleaner
    // reclaims them for non-harness users.
    if (checkpoint)
      uf.localCheckpoint(true)
        .transform(graft.functions.CacheScope.registerCheckpoint)
    else uf
  }

  /** Distributed min-label propagation with pointer jumping — the
    * >[[CcSingleTaskMaxEdges]] path of q62 (see its scaladoc). */
  private[graft] def ccLoop(spark: SparkSession, edges: DataFrame,
      registerFinal: Boolean = true): DataFrame = {
    // Three structural choices keep the loop cheap and driver-safe:
    // (1) LAZY localCheckpoint, NOT persist — persisting caches the
    //     DATA but each round's logical plan would still nest every
    //     previous round's (join ∘ union ∘ agg), growing super-
    //     linearly until the driver OOMs during analysis (observed as
    //     a heap blowup at sf0.1); checkpointing truncates lineage so
    //     plan size is O(1) in the round count. Lazy (not eager)
    //     because the plan is truncated at declaration either way and
    //     the convergence-check action right below materializes it —
    //     eager would run a separate materialization job first, and at
    //     ~10 rounds the loop is per-job-overhead-bound, so folding
    //     the two jobs per round into one measurably halves the loop.
    // (2) pointer jumping — after the neighbor-min step, contract
    //     label ← label(label) (every label is itself a node id, so
    //     the self-join always resolves). Convergence drops from
    //     O(diameter) to O(log diameter) rounds; with per-round job
    //     overhead dominating at verification scale this was the
    //     difference between ~11 s and ~2 s, and at 100 TB it bounds
    //     a 30-hop chain to ~5 rounds.
    // (3) monotone convergence check — labels only ever decrease, so
    //     Σlabel is strictly decreasing until the fixpoint; comparing
    //     two driver-side sums replaces a join+filter+count job.
    // The loop's working set is O(candidate nodes) — thousands of
    // rows, not the corpus — so its shuffles are sized to the data
    // with EXPLICIT per-plan repartition(8, key) calls, never by
    // mutating the session's shuffle.partitions: the session is
    // library-shared, and a global conf flip would silently shrink
    // every concurrently-built query on it. A pre-aggregation
    // repartition(8, k) leaves HashPartitioning(8, k) on the child,
    // which satisfies the group-by's distribution requirement, so the
    // aggregate runs at 8 partitions without a second exchange (the
    // session's 32 would mostly schedule empty reducers here —
    // measured ~2× on the whole loop). At cluster scale set this
    // proportional to |V| of the candidate graph.
    val LoopParts = 8
    val labels = {
      // Init already IS the first propagation round, join-free: from
      // identity labels, round 1 would compute min(self ∪ neighbor
      // ids) — and neighbor ids are just the symmetric edge list, so
      // a union + agg produces the same state one join cheaper.
      var lab = edges.select(col("dst").as("id"), col("src").as("label"))
        .union(edges.select(col("src").as("id"), col("src").as("label")))
        .repartition(LoopParts, col("id"))
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint(false)
      // sum() over zero rows is NULL — a candidate-free corpus (no
      // near-dup pairs at all) must yield an empty cluster table,
      // not an NPE out of getLong. The sum is taken in DECIMAL(38,0):
      // at target scale Σlabel over billions of large doc_ids
      // overflows a Long — under ANSI that throws mid-loop, and with
      // ANSI off two distinct label states could wrap to equal sums
      // and falsely converge. Still one cheap agg.
      def labelSum(df: DataFrame): BigDecimal = {
        val row = df.agg(sum(col("label").cast("decimal(38,0)"))).collect()(0)
        if (row.isNullAt(0)) BigDecimal(0) else BigDecimal(row.getDecimal(0))
      }
      var prevSum = labelSum(lab)
      var converged = lab.isEmpty
      var iter = 0
      // Superseded rounds are freed as soon as the next round's
      // checkpoint has materialized (the labelSum action): the new
      // round's lineage is truncated at its own checkpoint, so the
      // old blocks can never be read again — without this, a 10-round
      // loop leaks 10 label tables until the driver happens to GC.
      def freeRound(df: DataFrame): Unit =
        graft.functions.CacheScope.checkpointRdds(df)
          .foreach(_.unpersist(blocking = false))
      while (!converged && iter < MaxCcRounds) {
        // lab is repartitioned to match the cached edge layout
        // (HashPartitioning(8, src)) so the join shuffles only the
        // small label side — and at 8 partitions, not 32.
        val neigh = edges.join(
            lab.withColumnRenamed("id", "src").repartition(LoopParts, col("src")), "src")
          .select(col("dst").as("id"), col("label"))
          .union(lab)
          .repartition(LoopParts, col("id"))
          .groupBy("id").agg(min("label").as("label"))
        val parent = neigh.select(col("id").as("pid"), col("label").as("plabel"))
        val jumped = neigh.repartition(LoopParts, col("label"))
          .join(parent.repartition(LoopParts, col("pid")), col("label") === col("pid"))
          .select(col("id"), col("plabel").as("label"))
          .localCheckpoint(false)
        val s = labelSum(jumped)
        freeRound(lab) // jumped is materialized — lab is unreachable
        lab = jumped
        converged = s == prevSum
        prevSum = s
        iter += 1
      }
      // An iteration-cap exit would return labels that are NOT
      // component minima — downstream dedup would silently keep
      // extra near-duplicates. With pointer jumping the cap covers
      // diameter ~2^50, so reaching it means a logic bug, and the
      // convention here is loud failure (q35's overflow guard,
      // Bench's QUERY FAILED), never a plausible-looking wrong answer.
      if (!converged) throw new IllegalStateException(
        s"q62 label propagation did not converge within $MaxCcRounds rounds — " +
          "labels are not component minima; refusing to return them")
      // final round outlives the loop — released by the harness's
      // drainCheckpoints() (standalone path) or by the family-memo
      // build once its persisted copy is counted (registerFinal =
      // false), not here
      if (registerFinal) graft.functions.CacheScope.registerCheckpoint(lab)
      else lab
    }
    labels
  }

  /** Oracle CC rounds: pointer-jumping label propagation unrolled as
    * materialized CTEs. The rounds a candidate graph needs depend on
    * its component shapes, not just their diameter: the sf0.1 test
    * fixture converges in 10, generated sf0.1 fixtures in 10–14. 24
    * leave headroom at O(V) oracle rows per round; the convergence
    * canary below turns "not enough rounds" into a LOUD empty result,
    * never a plausible-looking wrong label (the Spark loop's own
    * refuse-to-return contract).
    *
    * TRIAGE NOTE (r11 advice): this constant is an ORACLE-SIDE
    * ceiling, not an engine limit. A corpus whose candidate graph
    * needs more rounds makes the canary empty `lab`, so
    * q62/q121/q124/q136/q140 verification fails LOUDLY (row/hash
    * mismatch) even though the engine's converged labels — whose own
    * cap covers diameter ~2^50 — are correct. If a check.py sweep
    * fails on exactly this query family while the engine's q62 runs
    * clean, bump this constant rather than suspecting the engine;
    * dev/check.py prints the same reminder on those failures. */
  private val OracleCcRounds = 24

  /** Shared oracle fragment: symmetric `edges` over cand22 → `lab`
    * (id, cluster_id = component min). The r11 rewrite: the previous
    * `WITH RECURSIVE reach(a, b)` TRANSITIVE CLOSURE enumerates
    * reachable PAIRS — O(Σ|component|²) rows — which at the sf1
    * stress corpus (1.47M banded candidate pairs, ~110-doc
    * boilerplate buckets) ran DuckDB to 60+ GB without finishing,
    * while the engine's pointer-jumping plan completed effortlessly.
    * Label propagation carries O(V) rows per round instead; each
    * round is one edge join + one label jump, both LEFT (isolated
    * label values keep their row). A final half-round counts
    * would-still-improve labels; any nonzero count empties `lab`
    * (loud hash/row mismatch, not silent wrong clusters). */
  private val ccLabSql: String = {
    val rounds = (1 to OracleCcRounds).map { r =>
      s"""l$r AS MATERIALIZED (
         |  SELECT cur.id AS id,
         |    least(cur.lbl, coalesce(nbmin.m, cur.lbl), coalesce(j.lbl, cur.lbl)) AS lbl
         |  FROM l${r - 1} cur
         |  LEFT JOIN (
         |    SELECT e.src AS id, min(n.lbl) AS m
         |    FROM edges e JOIN l${r - 1} n ON n.id = e.dst GROUP BY e.src) nbmin
         |    ON nbmin.id = cur.id
         |  LEFT JOIN l${r - 1} j ON j.id = cur.lbl)""".stripMargin
    }.mkString(",\n")
    val lastL = s"l$OracleCcRounds"
    s"""edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM cand22
       |  UNION SELECT doc_b, doc_a FROM cand22
       |),
       |l0 AS MATERIALIZED (
       |  SELECT src AS id, least(src, min(dst)) AS lbl FROM edges GROUP BY src),
       |$rounds,
       |chk AS (
       |  SELECT count(*) AS n
       |  FROM $lastL cur
       |  LEFT JOIN (
       |    SELECT e.src AS id, min(n.lbl) AS m
       |    FROM edges e JOIN $lastL n ON n.id = e.dst GROUP BY e.src) nbmin
       |    ON nbmin.id = cur.id
       |  LEFT JOIN $lastL j ON j.id = cur.lbl
       |  WHERE least(cur.lbl, coalesce(nbmin.m, cur.lbl),
       |              coalesce(j.lbl, cur.lbl)) < cur.lbl),
       |lab AS (
       |  SELECT id, lbl AS cluster_id FROM $lastL
       |  WHERE (SELECT n FROM chk) = 0
       |)""".stripMargin
  }

  val q62Sql: String =
    s"""WITH $q22CandCte,
       |$ccLabSql
       |SELECT cluster_id, count(*) AS n_docs, max(id) AS max_doc
       |FROM lab GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  val q121Sql: String =
    s"""WITH $q22CandCte,
       |$ccLabSql,
       |sizes AS (SELECT cluster_id, count(*) AS n_docs FROM lab GROUP BY 1)
       |SELECT l.id AS doc_id, l.cluster_id,
       |  l.id = l.cluster_id AS is_canonical, s.n_docs
       |FROM lab l JOIN sizes s ON l.cluster_id = s.cluster_id
       |ORDER BY l.cluster_id, l.id""".stripMargin

  /** q124 — composed dedup capstone: the nightly-pipeline shape that
    * q62 (cluster report) and q121 (canonicalization) deliberately
    * don't share. As standalone driver-contract queries each rebuilds
    * the full MinHash → LSH candidates → connected-components lineage;
    * a real nightly job ships CC labels ONCE and derives every
    * downstream report from them. This query is that composition: one
    * [[ccLabels]] call (whose result is checkpointed, so the MinHash
    * subtree executes exactly once and the final plan contains NO
    * second copy of it — pinned in PlanShapeSpec), left-joined onto
    * the corpus to produce the per-source enforcement report every
    * dedup release publishes — docs, clustered docs, drops, keeps,
    * clusters led (canonical docs resident in the source), retention.
    *
    * Scale shape: labels is O(clustered docs) — far smaller than the
    * corpus but NOT guaranteed broadcast-sized (a 30%-duplicate web
    * corpus has billions of clustered docs), so the join is
    * deliberately unpinned: AQE broadcasts when measured-small, else
    * a shuffle join whose corpus side carries only (doc_id, source) —
    * fingerprint-width rows, never bodies (the q21 rule). The
    * aggregate is one map-side-combined pass; singletons never enter
    * the label table (the q121 O(clustered) property) and surface
    * only as the left-join's unmatched side. */
  def q124(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = ccLabels(spark, sfDir).withColumnRenamed("id", "doc_id")
    Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
      .join(labels, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(col("label")).as("n_clustered"),
        sum(when(col("doc_id") =!= col("label"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("doc_id") === col("label"), 1L).otherwise(0L)).as("n_clusters_led"))
      .withColumn("n_kept", col("n_docs") - col("n_dropped"))
      .withColumn("retention", graft.functions.OracleRound.floorRound(
        col("n_kept").cast("double") / col("n_docs"), 6))
      .select("source", "n_docs", "n_clustered", "n_dropped", "n_kept",
        "n_clusters_led", "retention")
      .orderBy("source")
  }

  val q124Sql: String =
    s"""WITH $q22CandCte,
       |$ccLabSql,
       |per_src AS (
       |  SELECT d.source, count(*) AS n_docs,
       |    CAST(count(l.id) AS BIGINT) AS n_clustered,
       |    CAST(sum(CASE WHEN d.doc_id <> l.cluster_id THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_dropped,
       |    CAST(sum(CASE WHEN d.doc_id = l.cluster_id THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_clusters_led
       |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.id
       |  GROUP BY d.source)
       |SELECT source, n_docs, n_clustered,
       |  coalesce(n_dropped, 0) AS n_dropped,
       |  n_docs - coalesce(n_dropped, 0) AS n_kept,
       |  coalesce(n_clusters_led, 0) AS n_clusters_led,
       |  ${graft.functions.OracleRound.floorRoundSql(
            "CAST(n_docs - coalesce(n_dropped, 0) AS DOUBLE) / n_docs", 6)} AS retention
       |FROM per_src ORDER BY source""".stripMargin

  /** Edit-distance threshold and prefix width for q64. Prefix-40
    * bounds the DP cost per pair to 40×40 cells; d ≤ 12 over 40
    * chars ≈ 70% prefix similarity — the measured sweet spot on this
    * corpus (6 pairs at sf0.01, 79 at sf0.1; the 5th-percentile
    * blocked-pair distance is 22, so the threshold cleanly separates
    * near-matches from the bulk). */
  private val FuzzyMaxDist = 12
  private val FuzzyPrefix = 40

  /** q64 length-proximity bound (r11 verdict item 3 — the second
    * blocking dimension): candidate pairs must also be within this
    * many characters in total length. Chosen against the measured
    * trade at sf0.1 — |Δn_chars| ≤ 64 keeps 79 of the 89
    * prefix-near pairs while cutting (lang, first-token) block pair
    * volume 4.1× (107,464 → 26,200; B=32 kept the same 79 at 7.9×
    * but leaves no margin above the p90 true-pair Δ of 76). The
    * semantic reading is standard ER blocking: a fuzzy NEAR-MATCH
    * whose bodies differ by hundreds of characters is a prefix
    * collision, not a near-match. The r11 sf1 sweep priced the
    * missing dimension: the replica fixture's vocabulary does not
    * grow with the corpus, so first-token blocks grew ×10 and the
    * cell ran 76 s (×86); the length axis spreads those blocks
    * regardless of vocabulary growth. */
  private val FuzzyLenBand = 64L

  /** q64 — fuzzy (edit-distance) near-match join: document pairs in
    * the same block — same lang, same first token, total lengths
    * within [[FuzzyLenBand]] — whose 40-char prefixes are within
    * Levenshtein distance 12. Blocking is what makes an
    * edit-distance join distributable: levenshtein admits no
    * equi-join key, so the unblocked form is an all-pairs O(N²·L²)
    * catastrophe; the block key turns it into an equi-join shuffle
    * with per-block quadratic cost bounded by block size (the
    * standard entity-resolution blocking pattern — at 100 TB use
    * several redundant cheap keys and union, same shape as LSH
    * banding).
    *
    * The length axis distributes as an EQUI-join, not a theta join:
    * docs land in ⌊n_chars/B⌋ bands (the q165 floor-exact form);
    * each doc PROBES its own and the next band (a 2× explode of the
    * probe side — the q165 sorted-neighborhood bucket trick), and
    * |Δ| ≤ B guarantees band distance ≤ 1, so every qualifying pair
    * is enumerated EXACTLY once (strictly-lower band probes up;
    * same-band pairs dedup on doc id) — no post-distinct, no
    * rank-range theta join. Both engines implement classic unit-cost
    * edit distance, so the oracle reproduces distances exactly. */
  def q64(spark: SparkSession, sfDir: String): DataFrame = {
    // Enumeration reads a SKINNY projection — ids, block keys, lengths;
    // no prefixes (attached after the barrier, below) and
    // substring_index for the first token (split() materializes the
    // whole token array to read element 0 — measured 3× the scan cost
    // at sf1).
    val b = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        substring_index(col("text"), " ", 1).as("tok1"),
        // largest-multiple floor form: floor-exact under either
        // truncation or floor DIV semantics (the q165 precedent)
        expr(s"CAST((n_chars - pmod(n_chars, $FuzzyLenBand)) DIV $FuzzyLenBand AS BIGINT)")
          .as("blk"))
    val probe = b.select(col("lang").as("lang_a"), col("tok1").as("tok1_a"),
        col("blk").as("blk_a"), col("doc_id").as("id_a"),
        col("n_chars").as("len_a"))
      .withColumn("gj", explode(array(col("blk_a"), col("blk_a") + 1)))
    val res = b.select(col("lang").as("lang_b"), col("tok1").as("tok1_b"),
      col("blk").as("blk_b"), col("doc_id").as("id_b"),
      col("n_chars").as("len_b"))
    // Candidate enumeration, CHEAP predicates only — the expensive
    // verify must NOT live here. The r12 sf1 profile: Catalyst folds
    // a downstream `dist ≤ 12` filter INTO THE JOIN CONDITION (it
    // pushes straight through an Exchange placed between join and
    // filter), so the 12 µs/pair DP ran inside the join stage, which
    // AQE had coalesced to 1-2 partitions (its byte-based advisory
    // sees ~20 MB of skinny inputs, not the 2.6M-pair OUTPUT) — ~35 s
    // of effectively single-core levenshtein at sf1. Salting the key
    // spread the keys but not the partitions and measured the same.
    val cands = probe.join(res,
        col("lang_a") === col("lang_b") && col("tok1_a") === col("tok1_b") &&
          col("gj") === col("blk_b") &&
          (col("blk_a") < col("blk_b") ||
            (col("blk_a") === col("blk_b") && col("id_a") < col("id_b"))) &&
          abs(col("len_a") - col("len_b")) <= FuzzyLenBand)
      .select("id_a", "id_b", "lang_a")
      // Rebalance + BARRIER before the DP: the explicit-N repartition
      // spreads the candidate rows evenly (a user-numbered shuffle is
      // exempt from AQE coalescing), and the lazy localCheckpoint
      // (the q62 lineage-barrier pattern, CacheScope-registered)
      // stops the predicate pushdown at the RDD boundary, so the
      // verify runs ONCE per candidate in a fully parallel stage:
      // 36 → ~2 s at sf1. The barrier carries IDS ONLY (guide §8:
      // every shuffle but the last moves a lightweight proxy) — the
      // r12 shape materialized ids + two 40-char prefixes per
      // candidate, and the r13 sf1 profile put that checkpoint write
      // at ~5 of the cell's 6.8 s; ids-only shrinks it ~6×. The
      // prefixes re-attach AFTER the barrier from the skinny
      // (doc_id, pfx) relation — AQE sizes those joins (broadcast at
      // bench scale; at 100 TB they degrade to equi-joins of
      // 48-byte rows, still never the documents).
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col("id_a"), col("id_b"))
      .localCheckpoint(false)
      .transform(graft.functions.CacheScope.registerCheckpoint)
    val pfx = Tables.documents(spark, sfDir)
      .select(col("doc_id"), substring(col("text"), 1, FuzzyPrefix).as("pfx"))
    cands
      .join(pfx.select(col("doc_id").as("id_a"), col("pfx").as("pfx_a")), "id_a")
      .join(pfx.select(col("doc_id").as("id_b"), col("pfx").as("pfx_b")), "id_b")
      // threshold form: banded DP visits O(len·threshold) cells and
      // bails out early instead of O(len²) per pair, returning -1
      // above the bound — ~3× less DP work at threshold 12 over
      // 40-char prefixes, same kept rows (the oracle's plain
      // levenshtein ≤ threshold predicate is equivalent).
      .withColumn("dist",
        levenshtein(col("pfx_a"), col("pfx_b"), FuzzyMaxDist).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= FuzzyMaxDist)
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"),
        col("lang_a").as("lang"), col("dist"))
      .orderBy("doc_a", "doc_b")
  }

  val q64Sql: String =
    s"""WITH b AS (
       |  SELECT doc_id, lang, n_chars, string_split(text, ' ')[1] AS tok1,
       |    substr(text, 1, $FuzzyPrefix) AS pfx
       |  FROM documents
       |)
       |SELECT least(x.doc_id, y.doc_id) AS doc_a,
       | greatest(x.doc_id, y.doc_id) AS doc_b, x.lang AS lang,
       | CAST(levenshtein(x.pfx, y.pfx) AS BIGINT) AS dist
       |FROM b x JOIN b y
       |  ON x.lang = y.lang AND x.tok1 = y.tok1 AND x.doc_id < y.doc_id
       |  AND abs(x.n_chars - y.n_chars) <= $FuzzyLenBand
       |WHERE levenshtein(x.pfx, y.pfx) <= $FuzzyMaxDist
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q131 flag threshold — tuned non-degenerate on the synthetic
    * corpus (small shared vocabulary → cross-doc 3-grams are common,
    * mean frac ≈ 0.63 at sf0.01; 0.5 would flag nearly everything).
    * On natural text the conventional cut is lower. */
  private val DupFracFlag = 0.75

  /** q131 — cross-document duplicated n-gram fraction: for each
    * document, the share of its distinct 3-gram shingles that also
    * occur in at least one OTHER document, rolled up per source —
    * the RefinedWeb/Gopher cross-document repetition rule that
    * q118's cascade deliberately lacks (its four signals are all
    * doc-LOCAL; this one needs the corpus). q70 measures repetition
    * WITHIN a document, q21/q22 catch whole/near duplicates — this
    * scores partial boilerplate (shared headers, templates, licence
    * blocks) that none of those flag.
    *
    * Scale shape: the distinct (doc, shingle) relation comes from the
    * shared typed-flatMap tokenizer; shingles immediately collapse to
    * a 16-hex-char md5 sig, so BOTH shuffles (the df aggregate and
    * the join back) carry 8-byte-entropy keys, never shingle text —
    * the q21 "fingerprints, never bodies" rule applied to n-grams.
    * The df aggregate is map-side combined; the per-doc rollup and
    * per-source report are O(docs)/O(sources). Per-doc fractions are
    * bit-identical doubles on both engines; their mean goes through
    * the order-independent exactSum DECIMAL discipline. */
  def q131(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.OracleRound.{exactSum, floorRound}
    // The df aggregate and the join-back both consume sig with
    // different exchange shapes (partial-agg vs plain sig shuffle),
    // so exchange reuse cannot apply — without the persist the
    // corpus-wide tokenize+md5 flatMap runs twice (the q117/q68
    // lesson; PlanShapeSpec pins one flatMap). The cached relation is
    // (doc_id, 16-hex sig) — a fraction of corpus bytes. Eager count
    // materializes before the two consumers race.
    val sig = shingles(spark, sfDir, distinct = true)
      .select(col("doc_id"), expr("substring(md5(sh), 1, 16)").as("sig"))
      .scopedCache
    sig.count()
    // n_dup per doc WITHOUT joining df back onto the posting relation:
    // n_dup = n_sh − (# of this doc's sigs with df = 1), and a df = 1
    // sig has exactly ONE owner, recoverable as min(doc_id) of its
    // 1-row group. So the df aggregate carries an 8-byte min alongside
    // the count, the unique credit is a map-combined rollup of the
    // df = 1 subset (distinct-sig-sized), and the old posting-sized
    // sig ⊳⊲ dfc shuffle join + per-doc aggregate over every posting
    // disappears (§2.3/§2.4 — the joined relation carried each
    // posting's df only to threshold it; the threshold is computable
    // from the aggregate side alone).
    val dfc = sig.groupBy("sig")
      .agg(count(lit(1)).as("df"), min("doc_id").as("d1"))
    val perDocN = sig.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val uniq = dfc.filter(col("df") === 1)
      .groupBy(col("d1").as("doc_id")).agg(count(lit(1)).as("n_uniq"))
    val perDoc = perDocN.join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        (col("n_sh") - coalesce(col("n_uniq"), lit(0L))).as("n_dup"))
    Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("frac", col("n_dup").cast("double") / col("n_sh"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(col("n_sh")).as("n_scored"),
        floorRound(exactSum(col("frac")) / count(col("n_sh")), 6)
          .as("avg_dup_frac"),
        count(when(col("frac") > DupFracFlag, 1)).as("n_flagged"))
      .orderBy("source")
  }

  val q131Sql: String =
    s"""WITH $shinglesSql,
       |sg AS (SELECT doc_id, substring(md5(sh), 1, 16) AS sig FROM sh),
       |dfc AS (SELECT sig, count(*) AS df FROM sg GROUP BY sig),
       |pd AS (
       |  SELECT s.doc_id, count(*) AS n_sh,
       |    count(CASE WHEN d.df >= 2 THEN 1 END) AS n_dup
       |  FROM sg s JOIN dfc d ON s.sig = d.sig GROUP BY s.doc_id),
       |j AS (
       |  SELECT doc.source, pd.n_sh,
       |    CAST(pd.n_dup AS DOUBLE) / pd.n_sh AS frac
       |  FROM documents doc LEFT JOIN pd ON doc.doc_id = pd.doc_id)
       |SELECT source, count(*) AS n_docs,
       |  CAST(count(n_sh) AS BIGINT) AS n_scored,
       |  ${graft.functions.OracleRound.floorRoundSql(
            graft.functions.OracleRound.exactSumSql("frac") + " / count(n_sh)", 6)}
       |    AS avg_dup_frac,
       |  CAST(count(CASE WHEN frac > $DupFracFlag THEN 1 END) AS BIGINT)
       |    AS n_flagged
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  /** q147 — shingle document-frequency spectrum (memorization-
    * exposure profile): bucket every distinct 3-gram shingle by how
    * many documents it occurs in (its df) into exposure bands —
    * unique (df=1), paired (df=2), common (3–9), boilerplate (10+) —
    * and report per band the distinct-shingle count, total postings,
    * the band's share of all postings, and the band's most-repeated
    * shingle's df. This is the corpus-level complement of q131 (which
    * scores each DOCUMENT by its duplicated fraction): sequences
    * repeated across many documents are the ones a model memorizes
    * verbatim, so the spectrum is the evidence a dedup/scrub policy's
    * df threshold is chosen from — if the 10+ band carries most
    * postings, near-dedup alone won't stop verbatim regurgitation.
    *
    * Scale shape: shingles collapse to 16-hex md5 sigs before the
    * single map-side-combined df aggregate (the q21/q131
    * "fingerprints, never bodies" rule); banding and the report run
    * on the O(#distinct shingles) sig relation, and the final
    * posting-share window runs on the 4-row band table — no second
    * corpus pass, no scalar-subquery re-scan. All counts are
    * integer-exact; the only double is the final share division of
    * two exact longs, identical on both engines. */
  def q147(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.OracleRound.floorRound
    val dfc = shingles(spark, sfDir, distinct = true)
      .select(expr("substring(md5(sh), 1, 16)").as("sig"))
      .groupBy("sig").agg(count(lit(1)).as("df"))
    val banded = dfc.withColumn("df_band",
      when(col("df") === 1, "1_unique")
        .when(col("df") === 2, "2_paired")
        .when(col("df") < 10, "3_common")
        .otherwise("4_boilerplate"))
      .groupBy("df_band")
      .agg(count(lit(1)).as("n_shingles"), sum("df").as("n_postings"),
        max("df").as("max_df"))
    // The share denominator via a window over the ≤4-row band table
    // (Window with no partition is the single-partition shape Spark
    // warns about — deliberate and safe here: the input is the band
    // GRID, never corpus-sized).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    banded
      .withColumn("posting_share",
        floorRound(col("n_postings").cast("double") /
          sum(col("n_postings")).over(w).cast("double"), 6))
      .select("df_band", "n_shingles", "n_postings", "max_df",
        "posting_share")
      .orderBy("df_band")
  }

  val q147Sql: String =
    s"""WITH $shinglesSql,
       |sg AS (SELECT substring(md5(sh), 1, 16) AS sig FROM sh),
       |dfc AS (SELECT sig, count(*) AS df FROM sg GROUP BY sig),
       |b AS (
       |  SELECT CASE WHEN df = 1 THEN '1_unique'
       |              WHEN df = 2 THEN '2_paired'
       |              WHEN df < 10 THEN '3_common'
       |              ELSE '4_boilerplate' END AS df_band, df FROM dfc),
       |g AS (
       |  SELECT df_band, CAST(count(*) AS BIGINT) AS n_shingles,
       |    CAST(sum(df) AS BIGINT) AS n_postings,
       |    CAST(max(df) AS BIGINT) AS max_df
       |  FROM b GROUP BY df_band)
       |SELECT df_band, n_shingles, n_postings, max_df,
       |  ${graft.functions.OracleRound.floorRoundSql(
            "CAST(n_postings AS DOUBLE) / CAST(sum(n_postings) OVER () AS DOUBLE)", 6)}
       |    AS posting_share
       |FROM g ORDER BY df_band""".stripMargin

  /** q154 — prefix-filtered exact set-similarity join (the
    * AllPairs/PPJoin scheme) at the near-duplicate threshold
    * t = 0.8: the SECOND exact Jaccard algorithm in the suite, with
    * a fundamentally different pruning argument from q23's. Tokens
    * get a global rarity order (df ASC, sig ASC); for Jaccard ≥ t a
    * document only needs its first n − ⌈t·n⌉ + 1 tokens INDEXED
    * (the prefix-filtering principle: two sets with J ≥ t must
    * share a token within both prefixes under any consistent global
    * order), so candidate generation joins prefix-vs-prefix — at
    * t = 0.8 each doc indexes only ~20% of its tokens, a ~25×
    * smaller pair space than the full inverted expansion; the
    * length filter 4·max(n_a,n_b) ≤ 5·min(n_a,n_b) (J ≥ t forces
    * size ratio ≥ t) prunes matches in the join itself, and the
    * POSITIONAL filter (see [[q154On]]) then drops every pair whose
    * shared-prefix positions already cap |A∩B| below the membership
    * floor — measured 43k → 12.5k verified candidates at sf0.1. The
    * pruning is threshold-AWARE — tighter as t rises — where q23's
    * df cap is threshold-blind; this is why t = 0.8 is the regime
    * the scheme is built for (a t = 0.5 variant was measured at ~9×
    * the ×10 ratio: half of every doc indexed prunes nothing).
    * Candidates are verified exactly over the same df-capped
    * universe as q23, so q154's rows must equal q23's restricted to
    * jaccard ≥ 0.8 — two independent prunings, one answer, pinned
    * by the cross-algorithm spec.
    *
    * Scale shape: df + prefix rank are one aggregate and one
    * doc-partitioned window over the 24-hex sig relation
    * (fingerprints, never bodies); verification work is
    * Σ_candidates |A| — candidate-bounded, not corpus². The
    * candidate pair set (carrying both doc sizes) enters the
    * verification joins UNHINTED: its size is data-dependent (it
    * grows with the corpus near-dup rate), so the join strategy is
    * left to Catalyst/AQE, which broadcasts only when the measured
    * size is under the auto-broadcast threshold and falls back to a
    * shuffle join keyed on doc_a/doc_b otherwise — on a
    * boilerplate-heavy 100 TB corpus an unconditional broadcast of
    * it would materialize an unbounded relation on the driver.
    * All thresholds are exact integer
    * arithmetic (⌈0.8n⌉ = (4n+4) div 5; membership 9·I ≥ 4·(A+B))
    * — no double compare decides membership, so the pruning
    * guarantee and the emitted set use the SAME true-J condition. */
  def q154(spark: SparkSession, sfDir: String): DataFrame =
    q154On(ssjoinDocSigs(spark, sfDir), ssjoinPrefix(spark, sfDir))

  /** Un-memoized, un-persisted q154 — plan-shape observability ONLY
    * (the memo-served copies render as InMemoryTableScans in explain,
    * hiding the join strategies from the PlanShapeSpec probes — the
    * [[overlapPairsPlan]] precedent). Same code path as the real
    * build: [[q154On]] over the two index plans. */
  private[graft] def q154Plan(spark: SparkSession, sfDir: String): DataFrame = {
    val full = ssjoinUniversePlan(spark, sfDir)
    q154On(ssjoinDocSigsOn(full), ssjoinPrefixOn(full))
  }

  /** The df-capped (doc_id, sig, df) token universe under the PPJoin
    * global rarity order — q154's verification-side index.
    * 24-hex (96-bit) sigs — q23's collision posture, not q131's
    * 64-bit counting sigs: q154's spec pins row-for-row equality
    * with q23, and at a web-corpus 10¹² distinct shingles 64-bit
    * sigs WOULD collide (birthday ~5·10⁹) and perturb jaccard
    * values; 96 bits keep the collision argument intact. */
  private def ssjoinUniversePlan(spark: SparkSession, sfDir: String): DataFrame = {
    val sig = shingles(spark, sfDir, distinct = true)
      .select(col("doc_id"), expr("substring(md5(sh), 1, 24)").as("sig"))
    val dfc = sig.groupBy("sig").agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxShingleDf)
    sig.join(dfc, "sig")
  }

  /** Family-lifetime memo of the universe ([[graft.functions
    * .FamilyIndex]]): built once per (session, corpus fingerprint)
    * instead of paying the corpus tokenize + distinct + df aggregate
    * per query. The persisted relation is the suite's LARGEST index —
    * one row per informative (doc, shingle) pair — but it is
    * signature rows (8 B id + 24-hex sig + 8 B df), never document
    * bodies, and MEMORY_AND_DISK spills it harmlessly; at 100 TB
    * this is the inverted-index artifact a dedup service would
    * precompute and serve anyway. */
  private val ssjoinUniverse =
    FamilyIndex.relation("ssjoin-universe", "documents")(ssjoinUniversePlan)

  /** Prefix index over a universe relation: r ≤ n − ⌈0.8·n⌉ + 1,
    * carrying n for the candidate length filter and the token's
    * global-order position r for the positional filter (both PPJoin
    * prunes read them off the candidate row). */
  private def ssjoinPrefixOn(full: DataFrame): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "sig")
    full
      .withColumn("r", row_number().over(wDoc).cast("long"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id"))
        .cast("long"))
      .filter(col("r") <= col("n") - expr("(4 * n + 4) div 5") + 1)
      .select(col("doc_id"), col("sig"), col("n"), col("r"))
  }

  /** Family-lifetime memo of the prefix index — built FROM the
    * universe memo (one doc-partitioned window over the cached
    * rows), ~20% of the universe's rows at t = 0.8. */
  private val ssjoinPrefix = FamilyIndex.relation("ssjoin-prefix", "documents") {
    (spark, sfDir) => ssjoinPrefixOn(ssjoinUniverse(spark, sfDir))
  }

  /** Per-doc sorted signature-set arrays — PPJoin's verification
    * index (one row per doc, |A| 24-hex sigs each). */
  private def ssjoinDocSigsOn(full: DataFrame): DataFrame =
    full.groupBy("doc_id").agg(collect_list(col("sig")).as("sigs"))

  /** Family-lifetime memo of the verification index — built FROM the
    * universe memo (one doc-keyed aggregate over the cached rows). */
  private val ssjoinDocSigs = FamilyIndex.relation("ssjoin-docsigs", "documents") {
    (spark, sfDir) => ssjoinDocSigsOn(ssjoinUniverse(spark, sfDir))
  }

  /** UNCAPPED per-doc distinct-shingle signature arrays — the
    * exact-Jaccard verification index for consumers that measure
    * TRUE similarity (q144's calibration audit): unlike
    * [[ssjoinDocSigs]], no df cap is applied, because the audit's
    * denominators (|A|, |B|) and intersections must count every
    * distinct shingle, not just the informative universe. 24-hex
    * sigs stand in for the shingle strings (the q23/q154 collision
    * posture — set sizes and intersections are preserved), so the
    * persisted arrays are fingerprint bytes, never text. */
  private val shingleDocSigs = FamilyIndex.relation("shingle-docsigs", "documents") {
    (spark, sfDir) =>
      shingles(spark, sfDir, distinct = true)
        .select(col("doc_id"), expr("substring(md5(sh), 1, 24)").as("sig"))
        .groupBy("doc_id").agg(collect_list(col("sig")).as("sigs"))
  }

  /** The PPJoin body over (possibly memo-served) universe + prefix
    * relations — shared by [[q154]] and [[q154Plan]]. */
  private def q154On(docSigs: DataFrame, prefix: DataFrame): DataFrame = {
    import graft.functions.OracleRound
    // Candidates carry both doc sizes (functionally dependent on the
    // ids, so the per-pair aggregate is unaffected) — the
    // verification leg needs them and re-deriving via a sizes
    // aggregate + two joins would recompute numbers every candidate
    // row already has.
    //
    // POSITIONAL filter (PPJoin's second prune, r10 verdict item 4 —
    // the length filter alone left the ×10 serve ratio at ~2.2, pure
    // candidate-space growth): over a pair's shared prefix tokens,
    // let c = how many there are and (ra, rb) = the positions of the
    // LAST one (max r on both sides — r follows the one global
    // (df, sig) order, so one token is argmax of both). Every
    // intersection token ≤ that token is in both prefixes (prefixes
    // are downward-closed in the global order) and hence counted in
    // c; every one after it fits in the min remaining suffix. So
    //   |A∩B| ≤ c + min(sh_a − ra, sh_b − rb),
    // and a pair with that bound below the membership floor
    // α = ⌈4(sh_a+sh_b)/9⌉ (9I ≥ 4(A+B) ⟺ J ≥ 4/5) can be dropped
    // BEFORE its arrays are fetched — lossless by the same exact
    // integer rule verification applies, so the oracle (which prunes
    // by length only) still matches row-for-row. The per-pair
    // aggregate replaces the previous .distinct() — the identical
    // shuffle, now also carrying the three pruning numbers.
    val cand = prefix.as("a").join(prefix.as("b"), Seq("sig"))
      .filter(col("a.doc_id") < col("b.doc_id") &&
        lit(4) * greatest(col("a.n"), col("b.n")) <=
          lit(5) * least(col("a.n"), col("b.n")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("sh_a"), col("b.n").as("sh_b"),
        col("a.r").as("ra"), col("b.r").as("rb"))
      .groupBy("doc_a", "doc_b", "sh_a", "sh_b")
      .agg(count(lit(1)).as("c_pfx"), max("ra").as("ra"), max("rb").as("rb"))
      .filter(col("c_pfx") +
        least(col("sh_a") - col("ra"), col("sh_b") - col("rb")) >=
        expr("(4 * (sh_a + sh_b) + 8) div 9"))
      .select("doc_a", "doc_b", "sh_a", "sh_b")
    // Verification over per-doc signature ARRAYS (PPJoin's verify
    // stage): each candidate pair fetches its two sorted-set arrays
    // and counts the intersection NARROWLY (array_intersect over two
    // ~|A|-element sets — distinct by construction, so its size IS
    // |A∩B|). The r10 profile of the previous row-expanded form
    // (cand ⋈ universe on doc_a, then (doc_b, sig)) showed why this
    // matters at scale: the expansion materializes Σ_cand |A| rows
    // (~19M at ×10), and the moment the universe outgrows the
    // runtime broadcast ceiling those rows SHUFFLE — 12.3 s of the
    // 14 s total. Here the shuffled relations are cand (pair-bounded)
    // and the doc-keyed array index; the expanded relation never
    // exists. Measured ×10: 14 s → ~2 s.
    // No broadcast hint: both relations are data-dependent-size
    // (near-dup rate / corpus), so AQE must stay free to pick
    // shuffle joins past the ceiling. Pinned by PlanShapeSpec.
    val inter = cand
      .join(docSigs.select(col("doc_id").as("doc_a"), col("sigs").as("sa")), Seq("doc_a"))
      .join(docSigs.select(col("doc_id").as("doc_b"), col("sigs").as("sb")), Seq("doc_b"))
      .withColumn("n_inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
    // Membership by the EXACT integer rule (J ≥ 4/5 ⟺ 9·I ≥ 4·(A+B))
    // — the same true-J condition the prefix and length prunes
    // guarantee recall for, so no rounded-boundary pair can be
    // pruned-but-reported or reported-but-pruned; the rounded
    // jaccard is an output column only.
    inter
      .filter(lit(9) * col("n_inter") >= lit(4) * (col("sh_a") + col("sh_b")))
      .withColumn("jaccard", OracleRound.floorRound(
        col("n_inter").cast("double") / (col("sh_a") + col("sh_b") - col("n_inter")), 6))
      .select("doc_a", "doc_b", "n_inter", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  val q154Sql: String =
    s"""WITH $shinglesSql,
       |sg AS (SELECT doc_id, substring(md5(sh), 1, 24) AS sig FROM sh),
       |dfc AS (
       |  SELECT sig, count(*) AS df FROM sg GROUP BY sig
       |  HAVING count(*) <= $MaxShingleDf),
       |f AS (SELECT s.doc_id, s.sig, d.df FROM sg s JOIN dfc d ON s.sig = d.sig),
       |pfx AS (
       |  SELECT doc_id, sig, n FROM (
       |    SELECT doc_id, sig,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY df, sig) AS r,
       |      count(*) OVER (PARTITION BY doc_id) AS n
       |    FROM f) t
       |  WHERE r <= n - (4 * n + 4) // 5 + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.n AS sh_a, b.n AS sh_b
       |  FROM pfx a JOIN pfx b ON a.sig = b.sig AND a.doc_id < b.doc_id
       |  WHERE 4 * greatest(a.n, b.n) <= 5 * least(a.n, b.n)),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, c.sh_a, c.sh_b, count(*) AS n_inter
       |  FROM cand c
       |  JOIN f fa ON fa.doc_id = c.doc_a
       |  JOIN f fb ON fb.doc_id = c.doc_b AND fb.sig = fa.sig
       |  GROUP BY c.doc_a, c.doc_b, c.sh_a, c.sh_b)
       |SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
       |  floor(CAST(n_inter AS DOUBLE) / (sh_a + sh_b - n_inter) * 1000000 + 0.5) / 1000000 AS jaccard
       |FROM inter
       |WHERE 9 * n_inter >= 4 * (sh_a + sh_b)
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q152 — incremental (delta-vs-base) exact dedup: the production
    * ingest shape. The corpus is split deterministically into an
    * 80% "base" (the already-ingested corpus) and a 20% "delta" (the
    * arriving batch) by the shared [[graft.functions.HashBucket]]
    * primitive; each delta document is then classified per source as
    * dup_base (its text signature already exists in the base's
    * signature index), dup_delta (first seen earlier IN this batch —
    * lowest doc_id wins, q21's keeper rule), or novel. This is the
    * operator a daily crawl append actually runs: q21 re-dedups the
    * world; this touches the base corpus ONLY through its signature
    * index.
    *
    * Scale shape: the base side collapses to DISTINCT md5 sigs before
    * the join — at 100 TB that index is the persisted artifact an
    * ingest pipeline maintains (16-byte keys, bucketable on sig so
    * the daily join is co-partitioned with zero base re-shuffle);
    * the LEFT join marks membership without duplicating rows (sig is
    * unique on the build side by construction). Within-batch
    * first-occurrence is a min-over-sig window on the delta only.
    * All counts integer; the only double is novel_rate. */
  def q152(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.{HashBucket, OracleRound}
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("sig"),
        expr(s"${HashBucket.bucketExpr("doc_id", 100)} < 80").as("is_base"))
    val baseSigs = docs.filter(col("is_base"))
      .select("sig").distinct().withColumn("in_base", lit(1))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("sig")
    docs.filter(!col("is_base"))
      .join(baseSigs, Seq("sig"), "left")
      .withColumn("first_id", min("doc_id").over(w))
      .withColumn("status",
        when(col("in_base").isNotNull, "dup_base")
          .when(col("doc_id") === col("first_id"), "novel")
          .otherwise("dup_delta"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_delta"),
        count(when(col("status") === "novel", 1)).as("n_novel"),
        count(when(col("status") === "dup_base", 1)).as("n_dup_base"),
        count(when(col("status") === "dup_delta", 1)).as("n_dup_delta"),
        OracleRound.floorRound(
          count(when(col("status") === "novel", 1)).cast("double") /
            count(lit(1)).cast("double"), 6).as("novel_rate"))
      .orderBy("source")
  }

  val q152Sql: String = {
    import graft.functions.{HashBucket, OracleRound}
    s"""WITH d AS (
       |  SELECT doc_id, source, md5(text) AS sig,
       |    (${HashBucket.bucketSql("doc_id", 100)} < 80) AS is_base
       |  FROM documents),
       |bs AS (SELECT DISTINCT sig FROM d WHERE is_base),
       |del AS (
       |  SELECT d.doc_id, d.source, d.sig,
       |    (bs.sig IS NOT NULL) AS in_base
       |  FROM d LEFT JOIN bs ON d.sig = bs.sig
       |  WHERE NOT d.is_base),
       |st AS (
       |  SELECT source,
       |    CASE WHEN in_base THEN 'dup_base'
       |         WHEN doc_id = min(doc_id) OVER (PARTITION BY sig)
       |           THEN 'novel'
       |         ELSE 'dup_delta' END AS status
       |  FROM del)
       |SELECT source, count(*) AS n_delta,
       |  CAST(count(CASE WHEN status = 'novel' THEN 1 END) AS BIGINT)
       |    AS n_novel,
       |  CAST(count(CASE WHEN status = 'dup_base' THEN 1 END) AS BIGINT)
       |    AS n_dup_base,
       |  CAST(count(CASE WHEN status = 'dup_delta' THEN 1 END) AS BIGINT)
       |    AS n_dup_delta,
       |  ${OracleRound.floorRoundSql(
            "CAST(count(CASE WHEN status = 'novel' THEN 1 END) AS DOUBLE) / " +
              "CAST(count(*) AS DOUBLE)", 6)} AS novel_rate
       |FROM st GROUP BY source ORDER BY source""".stripMargin
  }

  /** q165 field model: (name, m, u) — m = P(agree | same entity),
    * u = P(agree | different entities). Fixed literature-shaped
    * constants (an EM fit is a training job, not a query); the
    * agreement/disagreement WEIGHTS ln(m/u), ln((1−m)/(1−u)) are
    * computed once on the JVM and printed into the oracle text —
    * shortest-repr doubles round-trip exactly, so both engines score
    * with bit-identical constants. */
  private val FsFields: Seq[(String, Double, Double)] = Seq(
    ("same_source", 0.90, 0.05),
    ("same_text", 0.60, 0.001),
    ("same_prefix", 0.70, 0.01),
    ("close_len", 0.95, 0.20))
  private val FsWeights: Seq[(String, Double, Double)] =
    FsFields.map { case (n, m, u) =>
      (n, math.log(m / u), math.log((1 - m) / (1 - u)))
    }
  private val FsUpper = 6.0
  private val FsLower = 0.0
  private val FsLenBand = 50

  /** Sorted-neighborhood window width (pass 2): each document pairs
    * with the w−1 documents on either side of it in the per-lang
    * (n_chars, doc_id) sort order. Classic multi-pass blocking
    * (Hernández–Stolfo sorted-neighborhood): pass 1's equality
    * blocks miss near-dups that differ in their first token or
    * straddle a length-band boundary; rank adjacency catches both. */
  private val FsSnWindow = 8

  /** q165 — Fellegi–Sunter probabilistic record linkage: the
    * PROBABILISTIC tier of the dedup/ER family (q21 exact, q22-q24
    * near-dup sketches, q64 blocked fuzzy join score one signal;
    * F-S combines several). Candidate pairs come from blocking on
    * (lang, ⌊n_chars/[[FsLenBand]]⌋); each pair scores four field
    * agreements — source, exact text hash, 5-token prefix, length
    * within ±5 — as Σ of log-likelihood-ratio weights (agree →
    * ln(m/u) > 0, disagree → ln((1−m)/(1−u)) < 0), then classifies
    * link / possible / non_link by the decision thresholds. Top-20
    * pairs by score.
    *
    * Scale shape, pass 1: a co-partitioned self-join on the blocking
    * key (lang × length band × FIRST TOKEN — the content component
    * makes block count grow with corpus diversity, so pair volume
    * stays near-linear: measured 10.6k pairs at sf0.1 → 90k at ×10,
    * not the ×100 a fixed block count would give; a first draft
    * without it measured exactly that quadratic cliff, 28 s at ×10
    * → 0.6 s with it). The length band uses the explicit
    * largest-multiple FLOOR form on BOTH engines —
    * `(n_chars − pmod(n_chars, B)) DIV B` in Spark, the `%`-built
    * pmod twin in the oracle — because Spark's `DIV` AND DuckDB
    * 1.0's `//` BOTH truncate toward zero (measured: `(-101)//50`
    * = −2 there, not the floored −3 its docs suggest); subtracting
    * the non-negative pmod first makes the numerator an exact
    * multiple of B, which divides exactly under either truncation
    * or floor semantics, so the bucket is floor-exact and
    * engine/version-independent even for negative n_chars.
    *
    * Pass 2 (sorted neighborhood, [[FsSnWindow]]) closes pass 1's
    * recall gap. Its rank assignment is built to distribute: the
    * per-(lang, length band) COUNT table — O(langs × bands) rows,
    * bounded by the n_chars domain, never the corpus — gets each
    * band's global rank offset from a prefix-sum window over that
    * tiny table and broadcasts back (domain-bounded hint, the q54
    * centroid precedent); within-band ranks are a window over
    * (lang, band) — partitions are band-sized, never lang-sized, so
    * no single reducer sorts a whole language. (Residual hazard: a
    * degenerate corpus where most docs share one length band re-
    * concentrates that band's window; the escape is a range partition
    * on (n_chars, doc_id) with per-partition offsets — same offsets
    * algebra, sampling-chosen boundaries — not needed at any measured
    * scale here.) Neighborhood pairs come from an equi-join on the
    * rank BUCKET ⌊(r−1)/w⌋ (each left row probes its own and the next
    * bucket — the banded-LSH trick), so the pair stage is a shuffle
    * join too, never a rank-range theta join.
    * Candidates from both passes union and dedup BEFORE the head;
    * flags are symmetric so pair orientation is least/greatest.
    * Scoring is a narrow projection of constant weights — zero
    * per-row transcendentals; the head is a TakeOrdered.
    *
    * Determinism: agreements are exact string/integer comparisons;
    * the score adds four bit-identical constants in fixed textual
    * order; ties (same agreement pattern ⇒ same score, common) break
    * on (doc_a, doc_b). The oracle's per-lang row_number rank equals
    * the offset+window rank because the band is monotone in n_chars
    * and doc_id is unique. */
  def q165(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.OracleRound.floorRound
    val (p1, p2) = fsScoredPasses(spark, sfDir)
    p1.union(p2).distinct()
      .orderBy(col("raw").desc, col("doc_a"), col("doc_b")).limit(20)
      .select(col("doc_a"), col("doc_b"),
        col("same_source"), col("same_text"), col("same_prefix"),
        col("close_len"),
        floorRound(col("raw"), 6).as("score"),
        when(col("raw") >= FsUpper, "link")
          .when(col("raw") <= FsLower, "non_link")
          .otherwise("possible").as("fs_class"))
  }

  /** The two scored candidate passes of [[q165]] (pre-union, pre-head)
    * — `private[graft]` so the sorted-neighborhood recall spec can
    * inject a first-token-divergent duplicate pair and assert pass 2
    * scores it while pass 1 (equality blocks) cannot. */
  private[graft] def fsScoredPasses(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, sfDir).select(
      col("doc_id"), col("source"), col("lang"), col("n_chars"),
      md5(col("text")).as("sig"),
      array_join(slice(split(col("text"), " "), 1, 5), " ").as("prefix"),
      expr(s"CAST((n_chars - pmod(n_chars, $FsLenBand)) DIV $FsLenBand AS BIGINT)").as("blk"),
      element_at(split(col("text"), " "), 1).as("ft"))
      .scopedCache
    // no separate eager count: the ranked build's eager count below is
    // the first action over d and materializes the cache for every
    // later consumer (p1's two sides, the band join's two sides)
    val flags = Seq(
      ("same_source", col("source_a") === col("source_b")),
      ("same_text", col("sig_a") === col("sig_b")),
      ("same_prefix", col("prefix_a") === col("prefix_b")),
      ("close_len", abs(col("n_chars_a") - col("n_chars_b")) <= 5))
    val score = FsWeights.zip(flags).map { case ((_, wa, wd), (_, cond)) =>
      when(cond, lit(wa)).otherwise(lit(wd))
    }.reduceLeft(_ + _)
    def scored(pairs: DataFrame): DataFrame =
      pairs.select(Seq(
        least(col("doc_id_a"), col("doc_id_b")).as("doc_a"),
        greatest(col("doc_id_a"), col("doc_id_b")).as("doc_b")) ++
        flags.map { case (n, c) => c.cast("long").as(n) } :+
        score.as("raw"): _*)
    // pass 1: equality blocks
    val a = d.columns.foldLeft(d)((df, c) => df.withColumnRenamed(c, c + "_a"))
    val b = d.columns.foldLeft(d)((df, c) => df.withColumnRenamed(c, c + "_b"))
    val p1 = a.join(b,
      col("lang_a") === col("lang_b") && col("blk_a") === col("blk_b") &&
        col("ft_a") === col("ft_b") && col("doc_id_a") < col("doc_id_b"))
    // pass 2: sorted neighborhood — distributed rank via domain-bounded
    // band offsets + within-band window, pairs via rank-bucket equi-join.
    // The offset prefix-sum window runs over the (lang, band) COUNT
    // table — O(langs × length-bands) rows, bounded by the n_chars
    // domain, never the corpus — so its single-partition-per-lang
    // frame is safe at any scale, and no driver round-trip is needed.
    val offsets = d.groupBy("lang", "blk").agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(
        sum("n").over(Window.partitionBy("lang").orderBy("blk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("lang", "blk", "off")
    val ranked = d
      .join(broadcast(offsets), Seq("lang", "blk")) // domain-bounded side
      .withColumn("r", row_number().over(
        Window.partitionBy("lang", "blk").orderBy("n_chars", "doc_id")) + col("off"))
      .withColumn("g", expr(s"(r - 1) DIV $FsSnWindow"))
      .scopedCache
    ranked.count() // eager — the band join's two sides both read it
    val ra = ranked.columns.foldLeft(ranked)((df, c) => df.withColumnRenamed(c, c + "_a"))
      .withColumn("gj", explode(array(col("g_a"), col("g_a") + 1)))
    val rb = ranked.columns.foldLeft(ranked)((df, c) => df.withColumnRenamed(c, c + "_b"))
    val p2 = ra.join(rb,
      col("lang_a") === col("lang_b") && col("gj") === col("g_b") &&
        col("r_b") > col("r_a") && col("r_b") - col("r_a") < FsSnWindow)
    (scored(p1), scored(p2))
  }

  val q165Sql: String = {
    val conds = Seq(
      "a.source = b.source", "a.sig = b.sig", "a.prefix = b.prefix",
      "abs(a.n_chars - b.n_chars) <= 5")
    val flagCols = FsWeights.zip(conds).map { case ((n, _, _), c) =>
      s"CASE WHEN $c THEN 1 ELSE 0 END AS $n"
    }.mkString(",\n       |    ")
    // CAST each weight to DOUBLE: DuckDB parses decimal literals as
    // DECIMAL and would score (and floor-round) in decimal arithmetic
    val scoreExpr = FsWeights.map { case (n, wa, wd) =>
      s"(CASE WHEN $n = 1 THEN CAST($wa AS DOUBLE) ELSE CAST($wd AS DOUBLE) END)"
    }.mkString(" + ")
    import graft.functions.OracleRound.floorRoundSql
    s"""WITH d AS (
       |  SELECT doc_id, source, lang, n_chars, md5(text) AS sig,
       |    array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS prefix,
       |    (n_chars - ((n_chars % $FsLenBand + $FsLenBand) % $FsLenBand)) // $FsLenBand AS blk,
       |    string_split(text, ' ')[1] AS ft
       |  FROM documents),
       |rnk AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY lang ORDER BY n_chars, doc_id) AS r
       |  FROM d),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    $flagCols
       |  FROM d a JOIN d b
       |    ON a.lang = b.lang AND a.blk = b.blk AND a.ft = b.ft
       |      AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT least(a.doc_id, b.doc_id) AS doc_a,
       |    greatest(a.doc_id, b.doc_id) AS doc_b,
       |    $flagCols
       |  FROM rnk a JOIN rnk b
       |    ON a.lang = b.lang AND b.r - a.r BETWEEN 1 AND ${FsSnWindow - 1}),
       |s AS (SELECT *, $scoreExpr AS raw FROM p
       |  ORDER BY raw DESC, doc_a, doc_b LIMIT 20)
       |SELECT doc_a, doc_b,
       |  CAST(same_source AS BIGINT) AS same_source,
       |  CAST(same_text AS BIGINT) AS same_text,
       |  CAST(same_prefix AS BIGINT) AS same_prefix,
       |  CAST(close_len AS BIGINT) AS close_len,
       |  ${floorRoundSql("raw", 6)} AS score,
       |  CASE WHEN raw >= $FsUpper THEN 'link'
       |       WHEN raw <= $FsLower THEN 'non_link'
       |       ELSE 'possible' END AS fs_class
       |FROM s ORDER BY raw DESC, doc_a, doc_b""".stripMargin
  }

  /** Duplicated-span token width (q175): 8-token exact spans, the
    * granularity substring-level training-data dedup uses — long
    * enough that a shared span means copied text, short enough to
    * catch partial overlap exact dedup (q21, whole-text) misses. */
  private val SpanK = 8

  /** q175 — duplicated-span scrub: substring-level dedup that MASKS
    * repeated text instead of dropping documents (the "dedup inside
    * documents" pass of an LLM pipeline — whole-doc dedup keeps the
    * first copy of a near-dup pair intact, but the shared passage is
    * still trained on twice). Every token position covered by an
    * 8-token span whose exact content already occurred earlier in
    * the corpus (first occurrence = lowest (doc_id, pos), the same
    * keep-first rule as q21) is marked masked; the report is
    * per-document masked-token counts and rates, docs with no
    * duplicated span omitted.
    *
    * Shapes: one shuffle keyed on the 32-hex span fingerprint (the
    * row_number window — text itself never shuffles), then an
    * 8×|dup| explode deduped per (doc, position). At 100 TB the
    * window input is corpus-token-sized but each partition-group is
    * occurrence-count-sized (almost always 1); the explode is
    * proportional to duplicated volume only. Same plan family as
    * q131/q145, which the sf1 gate measured sublinear. */
  /** The (tokenized docs, duplicated span starts) pair behind q175 and
    * q177 — ONE derivation so the scrub's masks and the passage
    * report's runs can never disagree about which spans are
    * duplicated. `toks` is (doc_id, t); `dup` is the (doc_id, pos) of
    * every SpanK-token span whose exact content occurred earlier
    * (keep-first = lowest (doc_id, pos), q21's rule). */
  private def spanFrames(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ", -1).as("t"))
      .filter(size(col("t")) >= SpanK)
    (toks, spanDup(spark, sfDir))
  }

  /** The duplicated-span starts (doc_id, pos) — family-lifetime memo
    * ([[graft.functions.FamilyIndex]], r13): the corpus-token-sized
    * md5 + fingerprint-window pass that derives them is the dominant
    * cost of BOTH q175 and q177 (each previously re-ran it per
    * query); the persisted relation is duplicated-volume-sized only
    * (a (long, int) row per duplicated span start — never span text,
    * never token arrays). `toks` re-derives per query from parquet —
    * a split-only scan, deliberately NOT memoized (corpus bytes). */
  private val spanDup = FamilyIndex.relation("span-dup", "documents") {
    (spark, sfDir) =>
      val w = org.apache.spark.sql.expressions.Window
      val occ = Tables.documents(spark, sfDir)
        .select(col("doc_id"), split(col("text"), " ", -1).as("t"))
        .filter(size(col("t")) >= SpanK)
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(1), size(col("t")) - lit(SpanK - 1))).as("pos"))
        // r13 measured, not kept: shuffling the fingerprint as 16
        // BINARY bytes (unhex) instead of 32 hex chars was NEUTRAL at
        // both scales (q177 3.36 → 3.45 s sf1) — the h window's cost
        // here is the sort, not the key bytes.
        .select(col("doc_id"), col("pos"),
          md5(concat_ws(" ", slice(col("t"), col("pos"), lit(SpanK)))).as("h"))
      occ
        .withColumn("rk", row_number().over(
          w.partitionBy("h").orderBy("doc_id", "pos")))
        .filter(col("rk") > 1)
        .select("doc_id", "pos")
  }

  def q175(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.OracleRound.floorRound
    val (toks, dup) = spanFrames(spark, sfDir)
    // r13 rejected experiment: counting masked tokens by interval
    // arithmetic over maximal runs (q177's islands rule — no 8×
    // explode, no distinct) measured 3.01 → 4.32 s at sf1: the sf1
    // replica fixture's duplicated volume is large enough that two
    // doc-keyed window sorts over dup cost more than the
    // explode + hash-distinct they replaced. Keep the explode form.
    val masked = dup
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(SpanK - 1))).as("mpos"))
      .distinct()
    val perDoc = masked.groupBy("doc_id").agg(count(lit(1)).as("n_masked"))
    toks.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
      .join(perDoc, "doc_id")
      .withColumn("masked_rate",
        floorRound(col("n_masked").cast("double") / col("n_tokens"), 6))
      .select("doc_id", "n_tokens", "n_masked", "masked_rate")
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[spanFrames]] — the toks/occ/dup CTE prefix
    * shared by q175Sql and q177Sql. */
  private val spanCtesSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text,' ') AS t FROM documents
       |  WHERE len(string_split(text,' ')) >= $SpanK
       |), occ AS (
       |  SELECT doc_id, pos,
       |    md5(array_to_string(t[pos:pos+${SpanK - 1}], ' ')) AS h
       |  FROM (SELECT doc_id, unnest(range(1, len(t)-${SpanK - 2})) AS pos, t
       |        FROM toks) u
       |), dup AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos,
       |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
       |    FROM occ) r WHERE rk > 1
       |)""".stripMargin

  val q175Sql: String = {
    import graft.functions.OracleRound.floorRoundSql
    s"""$spanCtesSql, masked AS (
       |  SELECT DISTINCT doc_id, mpos FROM (
       |    SELECT doc_id, unnest(generate_series(pos, pos+${SpanK - 1})) AS mpos
       |    FROM dup) u
       |), perdoc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_masked
       |  FROM masked GROUP BY doc_id)
       |SELECT l.doc_id, CAST(len(t) AS BIGINT) AS n_tokens, n_masked,
       |  ${floorRoundSql(s"CAST(n_masked AS DOUBLE) / len(t)", 6)} AS masked_rate
       |FROM toks l JOIN perdoc USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** How many maximal duplicated runs q177 reports, and how many
    * tokens of each run it quotes in the preview column. */
  private val RunTopK = 10
  private val RunPreviewTokens = 12

  /** q177 — longest-duplicated-passage report: the human-auditable
    * face of q175. q175 answers "how much of each doc is duplicated";
    * this answers "WHAT is being duplicated" — it merges each doc's
    * duplicated span starts into maximal runs (two SpanK-token spans
    * whose masked intervals touch or overlap, i.e. start gap ≤ SpanK,
    * belong to one run — islands-and-gaps, so a run has no unmasked
    * hole) and publishes the RunTopK longest runs with a
    * RunPreviewTokens-token excerpt. This is the triage report a
    * curation team reads before choosing scrub thresholds: boilerplate
    * headers, license blocks, and template text show up here first.
    *
    * Shapes on top of [[spanFrames]] (one fingerprint-keyed shuffle,
    * q175's cost): one doc_id-keyed window pass over the DUPLICATED
    * span starts only (duplicated-volume-sized, per-partition-group
    * bounded by one doc's spans), a RunTopK global TakeOrdered (no
    * full sort materialized), then the 10-row report joins back to
    * the token arrays broadcast-side to slice the excerpts — the text
    * itself never shuffles. */
  def q177(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val (toks, dup) = spanFrames(spark, sfDir)
    val byDoc = w.partitionBy("doc_id").orderBy("pos")
    val runs = dup
      .withColumn("prev", lag("pos", 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > SpanK, 1)
          .otherwise(0))
      .withColumn("run_id", sum("brk").over(byDoc))
      .groupBy(col("doc_id"), col("run_id"))
      .agg(min("pos").cast("long").as("run_start"),
        (max("pos") - min("pos") + lit(SpanK)).cast("long").as("run_len"),
        count(lit(1)).as("n_spans"))
    val top = runs
      .orderBy(col("run_len").desc, col("doc_id"), col("run_start"))
      .limit(RunTopK)
    toks.join(broadcast(top), "doc_id")
      .withColumn("preview", concat_ws(" ",
        slice(col("t"), col("run_start").cast("int"),
          least(col("run_len"), lit(RunPreviewTokens.toLong)).cast("int"))))
      .withColumn("rk", row_number().over(w.orderBy(
        col("run_len").desc, col("doc_id"), col("run_start"))).cast("long"))
      .select("rk", "doc_id", "run_start", "run_len", "n_spans", "preview")
      .orderBy("rk")
  }

  val q177Sql: String =
    s"""$spanCtesSql, brks AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER w IS NULL
       |      OR pos - lag(pos) OVER w > $SpanK THEN 1 ELSE 0 END AS brk
       |  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
       |), isl AS (
       |  SELECT doc_id, pos, sum(brk) OVER (
       |    PARTITION BY doc_id ORDER BY pos) AS run_id FROM brks
       |), runs AS (
       |  SELECT doc_id, run_id,
       |    CAST(min(pos) AS BIGINT) AS run_start,
       |    CAST(max(pos) - min(pos) + $SpanK AS BIGINT) AS run_len,
       |    CAST(count(*) AS BIGINT) AS n_spans
       |  FROM isl GROUP BY doc_id, run_id
       |), top AS (
       |  SELECT * FROM runs
       |  ORDER BY run_len DESC, doc_id, run_start LIMIT $RunTopK)
       |SELECT
       |  CAST(row_number() OVER (
       |    ORDER BY run_len DESC, p.doc_id, run_start) AS BIGINT) AS rk,
       |  p.doc_id, run_start, run_len, n_spans,
       |  array_to_string(list_slice(t, run_start,
       |    run_start + least(run_len, $RunPreviewTokens) - 1), ' ') AS preview
       |FROM top p JOIN toks USING (doc_id)
       |ORDER BY rk""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q175_dupspan_scrub" -> q175 _,
    "q177_dup_passages" -> q177 _,
    "q165_fs_linkage" -> q165 _,
    "q21_exact_dedup" -> q21 _,
    "q22_minhash_lsh" -> q22 _,
    "q144_minhash_calibration" -> q144 _,
    "q145_winnow_fingerprints" -> q145 _,
    "q23_ngram_jaccard" -> q23 _,
    "q24_simhash" -> q24 _,
    "q35_simhash_neardup" -> q35 _,
    "q62_dedup_clusters" -> q62 _,
    "q64_fuzzy_blocked" -> q64 _,
    "q121_cluster_canonical" -> q121 _,
    "q124_dedup_capstone" -> q124 _,
    "q131_crossdoc_ngram_dup" -> q131 _,
    "q147_df_spectrum" -> q147 _,
    "q152_delta_dedup" -> q152 _,
    "q154_prefix_ssjoin" -> q154 _,
    "q134_shingle_containment" -> q134 _,
    "q136_neardup_split_leakage" -> q136 _,
    "q139_normalized_dedup" -> q139 _,
    "q140_source_dup_matrix" -> q140 _)

  val oracles: Map[String, String] = Map(
    "q175_dupspan_scrub" -> q175Sql,
    "q177_dup_passages" -> q177Sql,
    "q165_fs_linkage" -> q165Sql,
    "q21_exact_dedup" -> q21Sql,
    "q22_minhash_lsh" -> q22Sql,
    "q144_minhash_calibration" -> q144Sql,
    "q145_winnow_fingerprints" -> q145Sql,
    "q23_ngram_jaccard" -> q23Sql,
    "q24_simhash" -> q24Sql,
    "q35_simhash_neardup" -> q35Sql,
    "q62_dedup_clusters" -> q62Sql,
    "q64_fuzzy_blocked" -> q64Sql,
    "q121_cluster_canonical" -> q121Sql,
    "q124_dedup_capstone" -> q124Sql,
    "q131_crossdoc_ngram_dup" -> q131Sql,
    "q147_df_spectrum" -> q147Sql,
    "q152_delta_dedup" -> q152Sql,
    "q154_prefix_ssjoin" -> q154Sql,
    "q134_shingle_containment" -> q134Sql,
    "q136_neardup_split_leakage" -> q136Sql,
    "q139_normalized_dedup" -> q139Sql,
    "q140_source_dup_matrix" -> q140Sql)
}

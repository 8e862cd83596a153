package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.OracleRound.{floorRound, floorRoundSql}
import graft.functions.Ols
import graft.functions.CacheScope.Ops
import graft.sources.Tables

/** Text-analysis operators over `documents` (SURVEY.md §7.1 B4):
  * token counting, quality scoring, n-gram language ID, and
  * fingerprinting — the per-document feature extraction stage of an
  * LLM data pipeline.
  *
  * Tokenization is `split(text, ' ')` (the corpus is space-separated
  * word soup, FIXTURES.md) as codegen'd Catalyst expressions, except
  * shingle expansion (q28) which uses a typed flatMap — measured 3-5×
  * faster than the CodegenFallback higher-order-function form (see
  * Dedup.shingles). Each query is one narrow scan + at most one or
  * two shuffles, so the shapes hold at 100 TB.
  */
object TextAnalysis {

  private[graft] val Stopwords = Seq("the", "a", "of", "and", "to", "in")
  private val stopList = Stopwords.map(w => s"'$w'").mkString(", ")

  /** q25 — corpus token statistics per language: the token-counting
    * pass every training-data pipeline runs first. Shuffle payload is
    * 5 groups of partial aggregates. */
  def q25(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        graft.functions.OracleRound.floorRound(
          sum("n_tokens").cast("double") / count(lit(1)), 4).as("avg_tokens"),
        graft.functions.OracleRound.floorRound(
          sum("n_chars").cast("double") / count(lit(1)), 4).as("avg_chars"),
        max("n_tokens").as("max_tokens"))
      .orderBy("lang")

  val q25Sql: String =
    """SELECT lang, count(*) AS n_docs,
      | CAST(sum(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
      | floor(CAST(sum(len(string_split(text,' '))) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_tokens,
      | floor(CAST(sum(n_chars) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_chars,
      | CAST(max(len(string_split(text,' '))) AS BIGINT) AS max_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q26 — per-document quality scoring: token count, mean token
    * length, stopword ratio, and a rule-based quality band — the
    * filter stage of a data-quality pipeline. Pure projection
    * (no shuffle at all except the final presentation sort). */
  def q26(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("t", split(col("text"), " "))
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .withColumn("n_stop",
        expr(s"size(filter(t, x -> x IN ($stopList)))").cast("long"))
      .select(
        col("doc_id"), col("n_tokens"),
        graft.functions.OracleRound.floorRound(
          (col("n_chars") - col("n_tokens") + 1).cast("double") / col("n_tokens"), 4)
          .as("avg_token_len"),
        graft.functions.OracleRound.floorRound(
          col("n_stop").cast("double") / col("n_tokens"), 6).as("stop_ratio"),
        when(col("n_tokens") < 10, "short")
          .when(col("n_stop").cast("double") / col("n_tokens") > 0.25, "boilerplate")
          .otherwise("good").as("quality"))
      .orderBy("doc_id")

  val q26Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, n_chars,
       |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(string_split(text,' '),
       |      x -> x IN ($stopList))) AS BIGINT) AS n_stop
       |  FROM documents)
       |SELECT doc_id, n_tokens,
       | floor(CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens * 10000 + 0.5) / 10000 AS avg_token_len,
       | floor(CAST(n_stop AS DOUBLE) / n_tokens * 1000000 + 0.5) / 1000000 AS stop_ratio,
       | CASE WHEN n_tokens < 10 THEN 'short'
       |      WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.25 THEN 'boilerplate'
       |      ELSE 'good' END AS quality
       |FROM d ORDER BY doc_id""".stripMargin

  /** q27 — n-gram (unigram-profile) language ID: build a top-20
    * token profile per language from a deterministic training split
    * (doc_id % 5 = 0), score held-out docs by profile-token hits,
    * predict argmax, and report the confusion matrix. The profile is
    * tiny (5 langs × 20 tokens) — at 100 TB it broadcasts; the
    * scoring join is a broadcast hash join against every token. */
  def q27(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // The train (doc_id % 5 = 0) and test branches are DISJOINT row
    // sets, so each explodes only its own slice — across the two
    // branches every document is tokenized exactly once, same total
    // work as the old shared corpus-token cache but with ZERO cache
    // materialization (the exploded token stream is strictly larger
    // than the text it came from) and no eager counting pass (the
    // q68 disjoint-branches lesson, §5).
    def toks(pred: Column) = docs.filter(pred)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
    val profile = toks(col("doc_id") % 5 === 0)
      .groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("cnt").desc, col("tok"))))
      .filter(col("rk") <= 20)
      .select(col("lang").as("p_lang"), col("tok"))
    val scored = toks(col("doc_id") % 5 =!= 0)
      .join(broadcast(profile), "tok")
      .groupBy(col("doc_id"), col("lang"), col("p_lang"))
      .agg(count(lit(1)).as("hits"))
    // argmax by (hits DESC, p_lang ASC) as a struct-min aggregate
    // instead of a rank window: min(struct(-hits, p_lang)) picks the
    // identical row (struct comparison is lexicographic; -hits ASC =
    // hits DESC, then p_lang ASC = the window's tiebreak) and the
    // hash aggregate partial-combines map-side where the window must
    // exchange AND sort the scored relation (§2.3/§2.4).
    val predicted = scored
      .groupBy(col("doc_id"), col("lang"))
      .agg(min(struct((-col("hits")).as("nh"), col("p_lang"))).as("best"))
      .select(col("lang"), col("best").getField("p_lang").as("p_lang"))
    predicted.groupBy(col("lang").as("actual"), col("p_lang").as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("actual", "predicted")
  }

  val q27Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok FROM documents
      |), profile AS (
      |  SELECT lang AS p_lang, tok FROM (
      |    SELECT lang, tok, count(*) AS cnt,
      |      row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tok) AS rk
      |    FROM tok WHERE doc_id % 5 = 0 GROUP BY lang, tok) t
      |  WHERE rk <= 20
      |), scored AS (
      |  SELECT t.doc_id, t.lang, p.p_lang, count(*) AS hits
      |  FROM tok t JOIN profile p ON t.tok = p.tok
      |  WHERE t.doc_id % 5 <> 0
      |  GROUP BY t.doc_id, t.lang, p.p_lang
      |), predicted AS (
      |  SELECT doc_id, lang, p_lang FROM (
      |    SELECT doc_id, lang, p_lang,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, p_lang) AS rk
      |    FROM scored) t
      |  WHERE rk = 1
      |)
      |SELECT lang AS actual, p_lang AS predicted, count(*) AS n_docs
      |FROM predicted GROUP BY lang, p_lang
      |ORDER BY actual, predicted""".stripMargin

  /** q28 — document fingerprinting: min/max md5 over word-4-gram
    * shingles (the winnowing/rolling-hash family collapsed to its
    * deterministic extrema) plus a dup-group representative via a
    * fingerprint-partitioned window. Docs sharing `fp_min` are
    * candidate containment duplicates. */
  def q28(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Typed flatMap shingle expansion (not transform(sequence(...))):
    // higher-order Catalyst functions are CodegenFallback and measured
    // 3-5× slower — see Dedup.shingles. md5 stays Catalyst (codegen'd).
    val fp = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = text.split(" ", -1)
        if (t.length < 4) Iterator.empty
        else (0 to t.length - 4).iterator
          .map(i => (id, t.slice(i, i + 4).mkString(" ")))
      }.toDF("doc_id", "sh")
      .select(col("doc_id"), md5(col("sh")).as("h"))
      .groupBy("doc_id")
      .agg(min("h").as("fp_min"), max("h").as("fp_max"),
        countDistinct(col("h")).as("n_shingles"))
    fp.withColumn("group_rep",
        min("doc_id").over(Window.partitionBy("fp_min")))
      .orderBy("doc_id")
  }

  val q28Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text,' ') AS t FROM documents
      |  WHERE len(string_split(text,' ')) >= 4
      |), sh AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(t)-2),
      |      i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS h
      |  FROM toks
      |), fp AS (
      |  SELECT doc_id, min(h) AS fp_min, max(h) AS fp_max,
      |    count(DISTINCT h) AS n_shingles
      |  FROM sh GROUP BY doc_id
      |)
      |SELECT doc_id, fp_min, fp_max, n_shingles,
      | min(doc_id) OVER (PARTITION BY fp_min) AS group_rep
      |FROM fp ORDER BY doc_id""".stripMargin

  /** q34 — regex (BPE-ish) tokenization vs whitespace tokenization:
    * subword-style alpha/digit runs via regexp_extract_all, compared
    * with whitespace token counts per source. Regex evaluation is a
    * codegen'd Catalyst expression; the aggregation shuffles 20
    * groups. */
  def q34(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("n_ws", size(split(col("text"), " ")).cast("long"))
      .withColumn("n_sub",
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_ws").as("ws_tokens"),
        sum("n_sub").as("subword_tokens"),
        graft.functions.OracleRound.floorRound(
          sum("n_sub").cast("double") / sum("n_ws"), 6).as("sub_per_ws"))
      .orderBy("source")

  val q34Sql: String =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_ws,
      |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_sub
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      | CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
      | CAST(sum(n_sub) AS BIGINT) AS subword_tokens,
      | floor(CAST(sum(n_sub) AS DOUBLE) / sum(n_ws) * 1000000 + 0.5) / 1000000 AS sub_per_ws
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** q41 — skew-safe heavy hitters: top-10 tokens per language,
    * computed with an explicit two-stage salted aggregation — stage 1
    * groups on (salt, lang, tok) so a pathologically hot token spreads
    * over 16 reducers; stage 2 merges the partial counts. Semantically
    * identical to a direct groupBy (the oracle is the plain GROUP BY),
    * but the plan shape survives a 100 TB corpus where one token
    * ("the") would otherwise pin a single reducer. AQE's skew handling
    * covers joins, not aggregations — hence the manual salt. */
  def q41(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val counts = tok
      .withColumn("salt", pmod(hash(col("doc_id")), lit(16)))
      .groupBy("salt", "lang", "tok")
      .agg(count(lit(1)).as("pc"))
      .groupBy("lang", "tok")
      .agg(sum("pc").as("cnt"))
    counts
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("cnt").desc, col("tok"))).cast("long"))
      .filter(col("rk") <= 10)
      .select(col("lang"), col("rk"), col("tok"), col("cnt"))
      .orderBy("lang", "rk")
  }

  val q41Sql: String =
    """SELECT lang, rk, tok, cnt FROM (
      |  SELECT lang, tok, cnt,
      |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rk
      |  FROM (
      |    SELECT lang, tok, count(*) AS cnt
      |    FROM (SELECT lang, unnest(string_split(text,' ')) AS tok FROM documents) t
      |    GROUP BY lang, tok) c) r
      |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin

  /** Count-min sketch geometry (q174). Width 256 over the fixture's
    * ~930 distinct bigrams guarantees real collisions (measured: 815
    * of 916 grams overestimated at sf0.01, max overcount 148), so the
    * min-over-rows estimate is non-trivially exercised; depth 4 rows
    * is the standard ε = e/w, δ = e⁻ᵈ trade. */
  private[graft] val CmRows = 4
  private[graft] val CmWidth = 256
  private val CmTopK = 20

  /** The CM row-hash bucket, as Spark SQL text over a frame exposing
    * the gram column and the sketch-row column `r` — ONE definition
    * shared by batch q174 and the streaming sketch so the two paths
    * can never hash into different cells. Delegates to the engine's
    * single md5-bucket primitive ([[graft.functions.HashBucket]]) —
    * the key is the row-salted gram `"<gram>:<r>"`; the wrapper CAST
    * HashBucket adds is an identity on an already-string key. */
  private[graft] def cmBucketSql(gramCol: String): String =
    graft.functions.HashBucket.bucketExpr(
      s"concat($gramCol, ':', CAST(r AS STRING))", CmWidth)

  /** Codegen'd bigram emission over any frame with a `text` column —
    * shared by batch q174 and the streaming sketch (positional
    * explode + element_at; see the q174 scaladoc for why not the
    * higher-order `transform` form). */
  private[graft] def bigramsOf(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val keepCols = keep.map(col)
    docs.select(keepCols :+ split(col("text"), " ", -1).as("t"): _*)
      .filter(size(col("t")) >= 2)
      .select(keepCols ++ Seq(
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t")): _*)
      .select(keepCols :+ concat(element_at(col("t"), col("i")), lit(" "),
        element_at(col("t"), col("i") + 1)).as("gram"): _*)
  }

  /** q174 — count-min sketch heavy hitters over corpus bigrams, with
    * the sketch REPLAYED exactly by the oracle (unlike the engine's
    * 5 declared rows-only sketches, CM over deterministic md5 row
    * hashes is bit-reproducible on any engine — DuckDB recomputes
    * the identical 4×256 counter array). Pipeline: bigram counts
    * (one vocab-sized shuffle with map-side partials), bucket sums
    * per sketch row via a window over the 4×256 cells, estimate =
    * min over rows, then a distributed TakeOrdered top-20 so the
    * rank window only ever sees 20 rows. CM's one-sided guarantee
    * (est ≥ exact, always) is pinned by OperatorSpec over the whole
    * vocabulary.
    *
    * 100 TB shape: sketch state is a FIXED 1024 cells no matter the
    * corpus (that is the point of CM) — the only data-sized stages
    * are the bigram count (map-side combined) and the top-k
    * (TakeOrderedAndProject, no global sort materialized); in a
    * production heavy-hitter pass you'd add `est ≥ φN` before the
    * top-k, which this plan's shape already accommodates as one
    * more codegen'd filter.
    *
    * [[cmEstimates]] is the full-vocabulary (gram, cnt, est) frame
    * behind the top-k — exposed so OperatorSpec can pin CM's
    * one-sided guarantee (est ≥ cnt) over EVERY gram, not just the
    * published rows. */
  private[graft] def cmEstimates(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = bigramsOf(Tables.documents(spark, sfDir))
    val vocab = grams.groupBy("gram").agg(count(lit(1)).as("cnt"))
    val vr = vocab
      .select(col("gram"), col("cnt"),
        explode(sequence(lit(0), lit(CmRows - 1))).as("r"))
      .withColumn("bucket", expr(cmBucketSql("gram")))
    vr.withColumn("bsum", sum("cnt").over(Window.partitionBy("r", "bucket")))
      .groupBy("gram").agg(max("cnt").as("cnt"), min("bsum").as("est"))
  }

  def q174(spark: SparkSession, sfDir: String): DataFrame = {
    cmEstimates(spark, sfDir)
      .orderBy(col("est").desc, col("gram")).limit(CmTopK)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("est").desc, col("gram"))).cast("long"))
      .select(col("rk"), col("gram"), col("cnt"), col("est"),
        (col("est") - col("cnt")).as("overcount"))
      .orderBy("rk")
  }

  val q174Sql: String =
    s"""WITH toks AS (
      |  SELECT string_split(text,' ') AS t FROM documents
      |  WHERE len(string_split(text,' ')) >= 2
      |), grams AS (
      |  SELECT t[i] || ' ' || t[i+1] AS gram
      |  FROM (SELECT unnest(range(1, len(t))) AS i, t FROM toks) u
      |), vocab AS (
      |  SELECT gram, count(*) AS cnt FROM grams GROUP BY gram
      |), vr AS (
      |  SELECT gram, cnt, r,
      |    ${graft.functions.HashBucket.bucketSql("gram || ':' || CAST(r AS VARCHAR)", CmWidth)} AS bucket
      |  FROM vocab, (SELECT unnest(range(0, $CmRows)) AS r) rows
      |), est AS (
      |  SELECT gram, CAST(max(cnt) AS BIGINT) AS cnt, CAST(min(bsum) AS BIGINT) AS est
      |  FROM (SELECT gram, cnt, sum(cnt) OVER (PARTITION BY r, bucket) AS bsum FROM vr) w
      |  GROUP BY gram)
      |SELECT rk, gram, cnt, est, est - cnt AS overcount FROM (
      |  SELECT gram, cnt, est,
      |    CAST(row_number() OVER (ORDER BY est DESC, gram) AS BIGINT) AS rk
      |  FROM est) r
      |WHERE rk <= $CmTopK ORDER BY rk""".stripMargin

  /** KMV (k-minimum-values) sketch size — q178 + its streaming twin.
    * Sized against the fixture like CmWidth: ~930 distinct bigrams
    * corpus-wide means per-source vocabularies genuinely overflow 64
    * slots at sf0.01+, so the estimator path (not the
    * degenerate exact-small-set path) is what the oracle checks. */
  private[graft] val KmvK = 64

  /** Per-source KMV bottom-k sketch over the bigram vocabulary —
    * ONE definition shared by batch q178 and
    * `CorpusStreams.kmvStream`, so the two paths can never keep
    * different sketch members. Output: one row per source, the
    * sketch as the sorted array of its k smallest (h, gram) members
    * (h = the engine's single md5 hash primitive, so any engine —
    * and the DuckDB oracle — reproduces the identical member set).
    * The [[graft.functions.BottomKByHash]] buffer dedupes, so the
    * corpus-sized bigram stream feeds the aggregation directly with
    * no separate distinct pass. */
  private[graft] def kmvSketches(docs: DataFrame): DataFrame = {
    val bk = udaf(graft.functions.BottomKByHash(KmvK))
    // r13 rejected experiment: feeding per-document-DISTINCT bigrams
    // from a typed flatMap (sketch-identical — BottomKByHash dedupes)
    // measured flat for q178 (3.19 → 3.14 s sf1) and WORSE for q180
    // (0.70 → 0.98 s sf1): this corpus's intra-document bigram repeat
    // factor is too low to pay for the typed-boundary serialization.
    // The codegen'd explode + bounded aggregate stays.
    bigramsOf(docs, keep = Seq("source"))
      .withColumn("h", expr(graft.functions.HashBucket.rawExpr("gram")))
      .groupBy("source")
      .agg(bk(col("h"), col("gram")).as("sketch"))
  }

  /** q178 — source-vocabulary overlap via KMV bottom-k sketches: for
    * every source pair, estimate the Jaccard similarity of their
    * bigram vocabularies from k-minimum-values sketches (Beyer et
    * al., "On synopses for distinct-value estimation under multiset
    * operations", SIGMOD'07): merge the two bottom-k member sets,
    * re-rank, keep the k smallest of the union; the estimate is the
    * fraction of those present in BOTH sketches. The mixture-design
    * diagnostic behind "are these two crawls the same text?" — q140
    * answers it at document grain by shipping every signature pair;
    * this answers it at vocabulary grain from S fixed-size sketches.
    *
    * Unlike the engine's five declared rows-only sketches, KMV over
    * the deterministic md5 hash is bit-reproducible on any engine —
    * the oracle rebuilds the identical sketches (rank window form)
    * and the driver hash-compares every estimate.
    *
    * 100 TB shape: the ONLY corpus-sized stage is the bigram scan
    * feeding a mergeable bounded aggregation (map-side partials ship
    * ≤ k rows per source per task); everything after operates on
    * S·k sketch rows — the S² pair stage touches sketches, never
    * data. Per-source state is k hashes forever, the same fixed-
    * state discipline as q174's count-min. OperatorSpec pins the
    * estimates against exact vocabulary Jaccard and the sketch
    * members against an independent pure-Scala replay. */
  def q178(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.OracleRound.floorRound
    import graft.functions.CacheScope.Ops
    // scopedCache: the sketch table is referenced by BOTH sides of the
    // pair self-join below — without the persist the corpus-sized
    // sketch build runs twice (the broadcast side cannot reuse the
    // stream side's exchange). The cached relation is S rows of
    // k-member arrays — sketch-sized, never corpus bytes.
    val sk = kmvSketches(Tables.documents(spark, sfDir)).scopedCache
    sk.count() // eager: the join sides must read the cache, not re-aggregate the corpus
    // KMV union/intersection is a k-bounded ARRAY operation, so the
    // estimator runs as per-pair expressions over the two sketch
    // arrays instead of exploding S·k member rows through two hash
    // joins + a (sa,sb,gram,h) aggregate + a rank window (the r12
    // probe measured that row-form machinery at ~0.6-1.0 s of pure
    // small-stage overhead at sf0.1 — 4 exchanges for kilobytes).
    // Equivalence to the row form (and the oracle's rank-window CTE):
    // array_union dedupes by (h, gram) struct equality ≡ the GROUP BY,
    // array_sort orders structs field-by-field ≡ ORDER BY h, gram,
    // slice(·, 1, k) ≡ rk <= k, and membership via array_intersect
    // against each source's own sketch ≡ max(in_a)/max(in_b). The
    // sketches stay bounded (≤ k members), so each pair is O(k log k)
    // work and the pair stage shuffles NOTHING corpus-derived.
    val pr = sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("sa"), col("b.source").as("sb"),
        col("a.sketch").as("ska"), col("b.sketch").as("skb"))
      .withColumn("u", expr(s"slice(array_sort(array_union(ska, skb)), 1, $KmvK)"))
    pr.select(col("sa").as("source_a"), col("sb").as("source_b"),
        size(col("u")).cast("long").as("union_k"),
        size(expr("array_intersect(array_intersect(u, ska), skb)"))
          .cast("long").as("shared_k"))
      .withColumn("kmv_jaccard",
        floorRound(col("shared_k").cast("double") / col("union_k"), 6))
      .orderBy("source_a", "source_b")
  }

  /** DuckDB twin of [[kmvSketches]] — the toks/hg/bk CTE prefix
    * shared by q178Sql and q180Sql, so the two sketch consumers can
    * never rebuild different member sets. */
  private val kmvCtesSql: String =
    s"""WITH toks AS (
      |  SELECT source, string_split(text,' ') AS t FROM documents
      |  WHERE len(string_split(text,' ')) >= 2
      |), hg AS (
      |  SELECT DISTINCT source, gram,
      |    ${graft.functions.HashBucket.rawSql("gram")} AS h
      |  FROM (SELECT source, t[i] || ' ' || t[i+1] AS gram
      |        FROM (SELECT source, unnest(range(1, len(t))) AS i, t
      |              FROM toks) i) g
      |), bk AS (
      |  SELECT source, gram, h FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY source ORDER BY h, gram) AS rk FROM hg) r
      |  WHERE rk <= $KmvK
      |)""".stripMargin

  val q178Sql: String = {
    import graft.functions.OracleRound.floorRoundSql
    s"""$kmvCtesSql, pairs AS (
      |  SELECT a.source AS sa, b.source AS sb
      |  FROM (SELECT DISTINCT source FROM bk) a
      |  JOIN (SELECT DISTINCT source FROM bk) b ON a.source < b.source
      |), u AS (
      |  SELECT sa, sb, gram, h,
      |    max(CASE WHEN k.source = sa THEN 1 ELSE 0 END) AS in_a,
      |    max(CASE WHEN k.source = sb THEN 1 ELSE 0 END) AS in_b
      |  FROM pairs p JOIN bk k ON k.source IN (p.sa, p.sb)
      |  GROUP BY sa, sb, gram, h
      |), rked AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY sa, sb ORDER BY h, gram) AS rk FROM u)
      |SELECT sa AS source_a, sb AS source_b,
      |  CAST(count(*) AS BIGINT) AS union_k,
      |  CAST(sum(in_a * in_b) AS BIGINT) AS shared_k,
      |  ${floorRoundSql("CAST(sum(in_a * in_b) AS DOUBLE) / count(*)", 6)}
      |    AS kmv_jaccard
      |FROM rked WHERE rk <= $KmvK
      |GROUP BY sa, sb ORDER BY source_a, source_b""".stripMargin
  }

  /** q180 — per-source distinct-bigram cardinality from the KMV
    * sketch, audited against the exact count: the classical KMV
    * estimator D̂ = (k−1)/u_k with u_k = h_k/2³² the kth smallest
    * normalized hash (Bar-Yossef et al. RANDOM'02 / Beyer et al.
    * SIGMOD'07), falling back to the EXACT sketch size when a
    * source's vocabulary fits in the sketch (< k members — the
    * sketch then IS the distinct set). This closes the one gap in
    * the sketch story: q33's HLL bits are engine-specific so it is
    * declared rows-only, but KMV over the deterministic md5 hash is
    * bit-reproducible, making this the roster's hash-matched
    * approximate count-distinct — the driver compares every
    * estimate, not just row shapes.
    *
    * The exact leg (countDistinct per source) is the AUDIT face a
    * calibration run wants and is the only corpus-sized stage beyond
    * the sketch build itself — a two-phase distinct aggregate over
    * (source, gram); a production pipeline publishing estimates only
    * would drop it and ship S·k sketch rows, q178's cost. h_k guards
    * with greatest(h_k, 1): a zero minimum hash (possible at corpus
    * scale, ~k·2⁻³² per source) must not divide by zero on either
    * engine. Estimator error for n ≥ k has std ≈ 1/√(k−2) ≈ 0.127
    * at k = 64; the spec pins max/mean bounds and exactness of the
    * small-set path. */
  def q180(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.OracleRound.floorRound
    val docs = Tables.documents(spark, sfDir)
    val sk = kmvSketches(docs)
      .select(col("source"), size(col("sketch")).cast("long").as("n_sketch"),
        // try_: under ANSI a small-vocabulary sketch (< k members)
        // must yield NULL here, not throw — the estimator's CASE
        // never reads hk on that branch.
        try_element_at(col("sketch"), lit(KmvK)).getField("h").as("hk"))
    val exact = bigramsOf(docs, keep = Seq("source"))
      .groupBy("source")
      .agg(countDistinct(col("gram")).as("n_exact"))
    sk.join(exact, "source")
      .withColumn("est_distinct",
        when(col("n_sketch") < KmvK, col("n_sketch").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble * 4294967296.0) /
            greatest(col("hk"), lit(1L)).cast("double")))
      .select(col("source"), col("n_exact"), col("n_sketch"),
        floorRound(col("est_distinct"), 3).as("est_distinct"),
        floorRound(abs(col("est_distinct") - col("n_exact").cast("double")) /
          col("n_exact").cast("double"), 6).as("rel_err"))
      .orderBy("source")
  }

  val q180Sql: String = {
    import graft.functions.OracleRound.floorRoundSql
    s"""$kmvCtesSql, sk AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_sketch,
      |    max(CASE WHEN rk = $KmvK THEN h END) AS hk
      |  FROM (SELECT source, h, row_number() OVER (
      |          PARTITION BY source ORDER BY h, gram) AS rk FROM bk) r
      |  GROUP BY source
      |), ex AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM hg
      |  GROUP BY source
      |), est AS (
      |  SELECT sk.source, n_exact, n_sketch,
      |    CASE WHEN n_sketch < $KmvK THEN CAST(n_sketch AS DOUBLE)
      |         ELSE ${(KmvK - 1).toDouble} * 4294967296.0 /
      |              CAST(greatest(hk, 1) AS DOUBLE) END AS e
      |  FROM sk JOIN ex ON ex.source = sk.source)
      |SELECT source, n_exact, n_sketch,
      |  ${floorRoundSql("e", 3)} AS est_distinct,
      |  ${floorRoundSql("abs(e - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)", 6)} AS rel_err
      |FROM est ORDER BY source""".stripMargin
  }

  /** q50 — deterministic hash sampling: a reproducible 10% sample per
    * source via md5(doc_id) mod 100 < 10 — the sampling method a
    * training-data pipeline actually wants at 100 TB (no RNG state,
    * stable across reruns/retries, pure narrow filter evaluated at
    * the scan, and any engine — here DuckDB — reproduces the exact
    * row set, unlike TABLESAMPLE). Reports per-source sampled counts
    * and rates against totals. */
  def q50(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("bucket",
        expr(graft.functions.HashBucket.bucketExpr("doc_id", 100)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("bucket") < 10, 1L).otherwise(0L)).as("n_sampled"),
        graft.functions.OracleRound.floorRound(
          sum(when(col("bucket") < 10, 1L).otherwise(0L)).cast("double") / count(lit(1)), 6)
          .as("sample_rate"))
      .orderBy("source")

  val q50Sql: String =
    s"""WITH b AS (
      |  SELECT source,
      |    ${graft.functions.HashBucket.bucketSql("doc_id", 100)} AS bucket
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      | CAST(sum(CASE WHEN bucket < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      | floor(CAST(sum(CASE WHEN bucket < 10 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS sample_rate
      |FROM b GROUP BY source ORDER BY source""".stripMargin

  /** q65 — stratified sampling with EXACT per-stratum quotas: exactly
    * ⌈10%⌉ of each language's documents, chosen deterministically by
    * md5(doc_id) rank within the stratum. q50's bucket filter gives a
    * ~10% Bernoulli sample (rate varies per stratum); a data-mixture
    * spec ("this corpus is 12% de, 30% en, ...") needs exact counts —
    * the operator training-data curation actually runs. One shuffle
    * on lang; the rank is a window over md5, so ties are impossible
    * (md5 of distinct ids) and any engine reproduces the same rows.
    * 100 TB note: a full per-stratum sort is O(n log n) per stratum —
    * at extreme sizes swap the window for a two-pass hash-threshold
    * (count, then binary-search the md5 cut) — same determinism, no
    * sort; the window form is exact and is what the oracle checks. */
  def q65(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(col("h"), col("doc_id"))
    val ranked = Tables.documents(spark, sfDir)
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("quota",
        ceil(count(lit(1)).over(Window.partitionBy("lang")) * 0.1).cast("long"))
    ranked.filter(col("rn") <= col("quota"))
      .select(col("lang"), col("doc_id"), col("rn"))
      .orderBy("lang", "rn")
  }

  val q65Sql: String =
    """WITH ranked AS (
      |  SELECT lang, doc_id,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn,
      |    CAST(ceil(count(*) OVER (PARTITION BY lang) * 0.1) AS BIGINT) AS quota
      |  FROM documents
      |)
      |SELECT lang, doc_id, rn FROM ranked WHERE rn <= quota
      |ORDER BY lang, rn""".stripMargin

  /** q68 — benchmark decontamination: flag training documents whose
    * 3-gram shingle overlap with a held-out benchmark set (source =
    * 'src0' stands in for the eval suite) is ≥ 10% — the named
    * pipeline stage every LLM training corpus runs before training,
    * because leaked eval shingles inflate benchmark scores. Shape:
    * the benchmark's distinct shingle set is SMALL (evals are
    * thousands of documents, not billions) so it broadcasts, and
    * contamination counting is a broadcast LEFT SEMI join + count per
    * training doc — one pass over the training shingles, no shuffle
    * of the corpus. If the benchmark set ever outgrows broadcast,
    * the same plan shuffle-joins on the shingle key. */
  /** The benchmark's distinct shingle set (source = 'src0' stands in
    * for the eval suite) — shared by q68 and the streaming
    * decontamination twin (streaming/CorpusStreams.decontamStream),
    * which broadcasts exactly this relation to enforce at ingest what
    * q68 audits in batch. */
  private[graft] def benchShingles(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.shinglesWithSource(spark, sfDir, Some(col("source") === "src0"))
      .select("sh").distinct()

  def q68(spark: SparkSession, sfDir: String): DataFrame = {
    // Shared shingle helper (Dedup.shinglesWithSource) keeps the
    // Scala-split vs DuckDB-string_split tokenization decision
    // single-sourced. The source filters sit BELOW the shingle
    // flatMap, so each side's parquet scan prunes to its own rows
    // (predicate pushdown on `source`) and only shingles its subset —
    // the corpus is tokenized exactly once across the two branches.
    // No cache: r4 persisted the full corpus shingle table eagerly
    // (persist + count), which added a whole extra distinct pass and
    // competed for executor memory with the rest of the suite — the
    // measured 2.6x q68 regression. Filtered-scan branches beat a
    // shared cache here because the branches are disjoint.
    val bench = benchShingles(spark, sfDir)
      .withColumn("hit", lit(1))
    val train = Dedup.shinglesWithSource(spark, sfDir,
        Some(col("source") =!= "src0"))
    // ONE aggregation computes both the per-doc shingle count and the
    // contaminated count: broadcast LEFT join marks each training
    // shingle (bench is distinct on sh, so row counts are preserved)
    // and count(hit) skips nulls. This replaces the earlier
    // sizes ⊳⊲ hits plan — two shuffled aggregations plus a join —
    // with one shuffle on doc_id; at 100 TB that deletes a full
    // corpus-shingle shuffle.
    val hits = train.join(broadcast(bench), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_hit"))
    hits
      .withColumn("ratio", graft.functions.OracleRound.floorRound(
        col("n_hit").cast("double") / col("n_sh"), 6))
      .filter(col("ratio") >= 0.1)
      .select("doc_id", "n_sh", "n_hit", "ratio")
      .orderBy("doc_id")
  }

  val q68Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, string_split(text,' ') AS t FROM documents
      |  WHERE len(string_split(text,' ')) >= 3
      |), sh AS (
      |  SELECT DISTINCT doc_id, source, sh FROM (
      |    SELECT doc_id, source,
      |      unnest(list_transform(range(1, len(t)-1),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |    FROM toks) u
      |), bench AS (SELECT DISTINCT sh FROM sh WHERE source = 'src0'),
      |train AS (SELECT doc_id, sh FROM sh WHERE source <> 'src0'),
      |stats AS (
      |  SELECT t.doc_id, count(*) AS n_sh,
      |    CAST(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      |  FROM train t LEFT JOIN bench b ON t.sh = b.sh
      |  GROUP BY t.doc_id
      |)
      |SELECT doc_id, n_sh, n_hit,
      | floor(CAST(n_hit AS DOUBLE) / n_sh * 1000000 + 0.5) / 1000000 AS ratio
      |FROM stats
      |WHERE floor(CAST(n_hit AS DOUBLE) / n_sh * 1000000 + 0.5) / 1000000 >= 0.1
      |ORDER BY doc_id""".stripMargin

  /** q53 — the composed LLM training-data pipeline, end to end in one
    * plan: exact dedup (keep lowest doc_id per md5 fingerprint) →
    * quality filter (q26's rules) → deterministic 50% hash sample →
    * per-language token accounting of what survives. Each stage is the
    * operator proven individually (q21/q26/q50/q25); composing them
    * keeps everything in one lineage so Catalyst pipelines the narrow
    * stages and the only shuffles are the dedup group-by and the final
    * 5-group rollup — the whole corpus is read ONCE. This is the query
    * shape a 100 TB preprocessing run executes nightly. */
  def q53(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("fingerprint", md5(col("text")))
    val keepers = docs
      .groupBy("fingerprint").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val deduped = docs.join(keepers, "doc_id")
      .withColumn("t", split(col("text"), " "))
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .withColumn("n_stop",
        expr(s"size(filter(t, x -> x IN ($stopList)))").cast("long"))
      .filter(col("n_tokens") >= 10 &&
        col("n_stop").cast("double") / col("n_tokens") <= 0.25)
      .withColumn("bucket",
        expr(graft.functions.HashBucket.bucketExpr("doc_id", 100)))
      .filter(col("bucket") < 50)
    deduped.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        graft.functions.OracleRound.floorRound(
          sum("n_tokens").cast("double") / count(lit(1)), 4).as("avg_tokens"))
      .orderBy("lang")
  }

  val q53Sql: String =
    s"""WITH keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
       |), survivors AS (
       |  SELECT d.lang,
       |    CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(string_split(d.text,' '),
       |      x -> x IN ($stopList))) AS BIGINT) AS n_stop,
       |    ${graft.functions.HashBucket.bucketSql("d.doc_id", 100)} AS bucket
       |  FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
       |)
       |SELECT lang, count(*) AS n_docs,
       | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       | floor(CAST(sum(n_tokens) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_tokens
       |FROM survivors
       |WHERE n_tokens >= 10 AND CAST(n_stop AS DOUBLE) / n_tokens <= 0.25
       |  AND bucket < 50
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Cross-entropy threshold (nats/token) above which q107 flags a
    * document as out-of-distribution under the corpus LM. */
  private val LmFlagNats = 4.0

  /** q107 — unigram-LM cross-entropy scoring (the CCNet-style
    * perplexity quality filter): train a unigram language model on
    * the corpus itself (token probabilities from exact counts), then
    * score every document by its mean negative log-probability under
    * that model — high cross-entropy = the document looks nothing
    * like the corpus (OCR garbage, wrong language, boilerplate).
    * Distinct from q91, which measures each SOURCE's own diversity;
    * this scores each DOCUMENT against a global reference model.
    *
    * Shapes: the LM is vocabulary-sized and BROADCASTS onto the token
    * stream; the per-doc score is one shuffle on doc_id; the report
    * is a 5-group rollup. Per-token ln terms sum in DECIMAL(28,18)
    * per doc (q91's discipline) so doc scores are bit-stable, and
    * doc scores again sum in DECIMAL for the per-lang mean. */
  def q107(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
    val lm = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val n = lm.agg(sum("c").as("n"))
    val docScores = toks
      .join(broadcast(lm.crossJoin(n)), "tok")
      .select(col("doc_id"), col("lang"),
        log(col("n").cast("double") / col("c")).cast("decimal(28,18)").as("nll"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_toks"),
        (sum(col("nll")).cast("double") / count(lit(1))).as("xent"))
    docScores.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        graft.functions.OracleRound.floorRound(
          sum(col("xent").cast("decimal(28,18)")).cast("double") / count(lit(1)), 6)
          .as("mean_xent"),
        count(when(col("xent") > LmFlagNats, 1)).as("n_flagged"))
      .orderBy("lang")
  }

  val q107Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
       |lm AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
       |n AS (SELECT sum(c) AS n FROM lm),
       |ds AS (
       |  SELECT t.doc_id, t.lang, count(*) AS n_toks,
       |    CAST(sum(CAST(ln(CAST(n.n AS DOUBLE) / l.c) AS DECIMAL(28,18))) AS DOUBLE)
       |      / count(*) AS xent
       |  FROM toks t JOIN lm l ON t.tok = l.tok, n
       |  GROUP BY t.doc_id, t.lang)
       |SELECT lang, count(*) AS n_docs,
       |  ${graft.functions.OracleRound.floorRoundSql(
            "CAST(sum(CAST(xent AS DECIMAL(28,18))) AS DOUBLE) / count(*)", 6)} AS mean_xent,
       |  count(CASE WHEN xent > $LmFlagNats THEN 1 END) AS n_flagged
       |FROM ds GROUP BY lang ORDER BY lang""".stripMargin

  /** q135 feature-space size: hashed-unigram buckets. DSIR hashes
    * features into a fixed small space so both distributions are
    * dense, broadcastable vectors no matter the vocabulary. */
  private val DsirBuckets = 64

  /** q135 target domain: English documents (the corpus's proxy for
    * "looks like the curated target set"). */
  private val DsirTargetLang = "en"

  /** Per-bucket smoothed log importance ratio, shared verbatim by
    * both engines (CAST-every-leaf so each double op has identical
    * operands → identical IEEE bits; see q114's discipline).
    * Columns: tc = target bucket count (NULL if unseen), rc = raw
    * bucket count, tt/rr = the two totals. */
  private val dsirLogRatioFormula: String =
    s"ln((CAST(coalesce(tc, 0) AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + $DsirBuckets.0)) - " +
      s"ln((CAST(rc AS DOUBLE) + 1.0) / (CAST(rr AS DOUBLE) + $DsirBuckets.0))"

  /** q135 — DSIR-style importance weighting (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): build
    * hashed-unigram bag-of-words distributions for a TARGET domain
    * ([[DsirTargetLang]] docs) and for the RAW corpus, then score
    * every document by its log importance weight Σ_tokens
    * log(p_target(feature)/p_raw(feature)) with add-one smoothing.
    * Documents whose features look target-like get positive weights —
    * the deterministic scoring half of DSIR's select-by-weight
    * recipe (q102's md5-threshold mechanism is the resampling half).
    * Report: per source, mean log-weight and how many docs score
    * target-like — the domain-relevance ranking a pipeline uses to
    * decide which sources to upweight.
    *
    * Shapes at 100 TB: both feature distributions partial-aggregate
    * the token stream down to [[DsirBuckets]] rows (map-side
    * combine), so the "models" are 64-row broadcasts regardless of
    * corpus or vocabulary size; scoring is a broadcast join onto the
    * token stream + one shuffle on doc_id; the report is a
    * source-count rollup. Per-token terms sum in DECIMAL(28,18)
    * (q107's discipline) so doc scores are bit-stable under any
    * partitioning. */
  def q135(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.OracleRound.floorRound
    // Each branch tokenizes its own pass (two corpus passes, like the
    // r12 shape — an N×64-row (doc, bucket) cache to share one pass
    // measured SLOWER at sf0.1, +0.4 s of materialization) but the
    // SCORING branch first map-combines the token stream to
    // per-(doc, bucket) COUNTS (≤ 64 rows/doc) and weights the
    // broadcast logratio by n·d instead of joining lr onto every
    // token row and decimal-summing per token — long counts where the
    // r12 plan did per-token DECIMAL(28,18) accumulation (§2.3
    // aggregate before you shuffle; sf1 6.06 → ~3.9 s measured).
    // Weighting is exact under the decimal discipline: summing n
    // copies of d = CAST(logratio AS DECIMAL(28,18)) is exactly
    // n·d — DECIMAL(9,0) × DECIMAL(28,18) → DECIMAL(38,18), no
    // rounding (counts < 1e9/doc-bucket, |logratio| < 100), so the
    // per-doc logw is bit-identical to the oracle's per-token sum.
    def toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .withColumn("b", expr(graft.functions.HashBucket.bucketExpr("tok", DsirBuckets)))
    // Model pass: conditional count inside ONE 64-group aggregate
    // (both distributions and, via the single-partition window over
    // 64 rows, their totals — free).
    val model = toks.groupBy("b")
      .agg(count(lit(1)).as("rc"),
        count(when(col("lang") === DsirTargetLang, 1)).as("tc"))
    val wAll = Window.partitionBy(lit(1))
    val lr = model
      .withColumn("rr", sum("rc").over(wAll))
      .withColumn("tt", sum("tc").over(wAll))
      .withColumn("logratio", expr(dsirLogRatioFormula))
      .select("b", "logratio")
    val docBuckets = toks
      .groupBy("doc_id", "source", "b")
      .agg(count(lit(1)).as("n"))
    val dw = docBuckets.join(broadcast(lr), "b")
      .groupBy("doc_id", "source")
      .agg(sum(col("n").cast("decimal(9,0)") *
        col("logratio").cast("decimal(28,18)")).cast("double").as("logw"))
    dw.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        floorRound(sum(col("logw").cast("decimal(28,18)")).cast("double")
          / count(lit(1)), 6).as("mean_logw"),
        count(when(col("logw") > 0, 1)).as("n_target_like"))
      .orderBy("source")
  }

  val q135Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, lang,
       |    ${graft.functions.HashBucket.bucketSql("tok", DsirBuckets)} AS b
       |  FROM (SELECT doc_id, source, lang,
       |          unnest(string_split(text, ' ')) AS tok FROM documents) u),
       |tgt AS (SELECT b, count(*) AS tc FROM toks
       |        WHERE lang = '$DsirTargetLang' GROUP BY b),
       |raw AS (SELECT b, count(*) AS rc FROM toks GROUP BY b),
       |tot AS (SELECT coalesce((SELECT sum(tc) FROM tgt), 0) AS tt,
       |               (SELECT sum(rc) FROM raw) AS rr),
       |lr AS (
       |  SELECT r.b, $dsirLogRatioFormula AS logratio
       |  FROM raw r LEFT JOIN tgt t ON r.b = t.b, tot),
       |dw AS (
       |  SELECT tk.doc_id, tk.source,
       |    CAST(sum(CAST(lr.logratio AS DECIMAL(28,18))) AS DOUBLE) AS logw
       |  FROM toks tk JOIN lr ON tk.b = lr.b
       |  GROUP BY tk.doc_id, tk.source)
       |SELECT source, count(*) AS n_docs,
       |  ${graft.functions.OracleRound.floorRoundSql(
            "CAST(sum(CAST(logw AS DECIMAL(28,18))) AS DOUBLE) / count(*)", 6)} AS mean_logw,
       |  count(CASE WHEN logw > 0 THEN 1 END) AS n_target_like
       |FROM dw GROUP BY source ORDER BY source""".stripMargin

  /** q122 flag threshold in nats — ~p97 of the per-doc bigram
    * cross-entropy at sf0.01 (median 3.39, p90 3.42, max 3.61), so
    * the flag marks the genuinely-unusual tail. */
  private val BigramFlagNats = 3.45

  /** Per-bigram negative log-likelihood under the add-one-smoothed
    * conditional model, shared-string + CAST-every-leaf + guarded-ln
    * discipline (see q114): columns c2 = bigram count, c1 = context
    * (w1) count, v = distinct-continuation vocabulary. */
  private val bigramNllFormula: String =
    s"CAST(${graft.functions.OracleRound.floorRoundSql(
      "ln((CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE)) / (CAST(c2 AS DOUBLE) + 1.0))", 12)} AS DECIMAL(28,12))"

  /** q122 — bigram-LM cross-entropy scoring (the KenLM/CCNet-style
    * perplexity filter, one order up from q107's unigram): train an
    * add-one-smoothed conditional bigram model ON the corpus, score
    * every document's mean per-bigram negative log-likelihood under
    * it, and report per-source means plus the count of
    * flagged-unusual documents. High xent = text whose transitions
    * the corpus LM finds surprising — the standard web-crawl quality
    * signal.
    *
    * Everything derives from ONE bigram relation, and the corpus is
    * exploded exactly TWICE — a structural guarantee, not optimizer
    * luck: c2 (the (w1,w2) aggregate, vocabulary²-bounded = SMALL) is
    * eagerly localCheckpoint'ed and its three consumers — the scoring
    * join, c1 = Σc2 grouped by w1 (counts of w1 AS CONTEXT, not raw
    * unigram counts, which would overcount document-final tokens),
    * and v = its distinct-w2 count — all read the checkpointed rows.
    * This is the cache-vs-branch rule's shared-small-result case
    * (q119's checkpoint-not-persist lesson: no caller-visible release
    * point); relying on exchange reuse instead was MEASURED to run
    * the corpus explode 4× — the three aggregate subtrees don't
    * canonicalize equal — so the two-pass claim is plan-pinned in
    * PlanShapeSpec. The corpus-sized bigram explode itself is
    * deliberately not cached (the q68 lesson); pass two is the
    * scoring side. The LM-side joins are NOT pinned to broadcast: a
    * web-corpus vocabulary (10⁷–10⁸ contexts) would OOM the driver
    * under a forced broadcast hint, so AQE picks broadcast-vs-shuffle
    * from measured sizes (spec-exercised both ways). The 1-row v
    * scalar stays an explicit broadcast. Either way the per-doc
    * reduction is a DECIMAL sum of ln-guarded terms. */
  def q122(spark: SparkSession, sfDir: String): DataFrame = {
    def bigrams = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      // Guard BEFORE the transform: on a 1-token doc,
      // sequence(1, size-1) = sequence(1, 0) is a DESCENDING [1, 0]
      // in Spark and element_at(t, 0) throws under ANSI mode (Spark 4
      // default). <2-token docs have no bigrams on either engine, so
      // the filter changes nothing semantically.
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"))
        .as("bg"))
      .select(col("doc_id"), col("source"), col("bg.w1"), col("bg.w2"))
    val c2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .localCheckpoint()
      .transform(graft.functions.CacheScope.registerCheckpoint)
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val v = c2.agg(countDistinct("w2").as("v"))
    // r13 rejected experiment (the q95 precedent): pre-computing nll
    // per bigram TYPE on an lm = c2 ⋈ c1 relation and joining the
    // stream ONCE measured SLOWER at both scales (sf0.1 solo
    // 1.03 → 1.19 s, sf1 5.17 → 8.95 s): the lm join must fully
    // materialize before its broadcast can build, serializing what
    // the two-broadcast form overlaps, and the per-occurrence nll
    // arithmetic it saves is already codegen'd and cheap. Keep the
    // two broadcast joins.
    val ds = bigrams
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("nll", expr(bigramNllFormula))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("m"),
        (sum(col("nll")).cast("double") / count(lit(1))).as("xent"))
    ds.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        floorRound(sum(col("xent").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 6).as("mean_xent"),
        count(when(col("xent") > BigramFlagNats, 1)).as("n_flagged"))
      .orderBy("source")
  }

  val q122Sql: String =
    s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
       |s AS (SELECT doc_id, source, t,
       |        unnest(generate_series(1, len(t) - 1)) AS i FROM d),
       |bg AS (SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2 FROM s),
       |k2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
       |k1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
       |vv AS (SELECT count(DISTINCT w2) AS v FROM bg),
       |ds AS (
       |  SELECT b.doc_id, b.source, count(*) AS m,
       |    CAST(sum($bigramNllFormula) AS DOUBLE) / count(*) AS xent
       |  FROM bg b
       |  JOIN k2 ON b.w1 = k2.w1 AND b.w2 = k2.w2
       |  JOIN k1 ON b.w1 = k1.w1, vv
       |  GROUP BY 1, 2)
       |SELECT source, count(*) AS n_docs,
       |  ${floorRoundSql(
          "CAST(sum(CAST(xent AS DECIMAL(28,12))) AS DOUBLE) / count(*)", 6)} AS mean_xent,
       |  count(CASE WHEN xent > $BigramFlagNats THEN 1 END) AS n_flagged
       |FROM ds GROUP BY source ORDER BY source""".stripMargin

  /** q123 drop denominator: the worst 1/10 (decile) of each source
    * goes. */
  private val CalibDropDenom = 10

  /** q123 cutoff rank k = ceil(n/10), the ONE shared-formula string
    * both engines evaluate (restoring the shared-threshold
    * discipline). Every leaf is CAST(... AS DOUBLE) per the round-5
    * decimal-literal rule — a bare `10.0` literal parses as
    * DECIMAL(3,1) in Spark but DOUBLE in DuckDB, which would make the
    * "one shared string" run decimal division on one engine and
    * binary on the other. With both sides in DOUBLE the exactness
    * argument is one argument: n+9 and 10 are exact doubles; the
    * correctly-rounded quotient's fractional part is either 0
    * (exactly representable for 10·k ≤ 2^53) or ≥ 0.1 — never within
    * an ulp of an integer boundary for n < 2^49 — so floor() of the
    * quotient equals integer (n+9) div 10 on BOTH engines. The final
    * CAST matters too: a bare double→BIGINT cast truncates in Spark
    * but rounds half-to-even in DuckDB, so the explicit floor() is
    * what keeps the cast exact on both. */
  private val calibKFormula =
    s"CAST(floor(CAST(n + ${CalibDropDenom - 1} AS DOUBLE) / " +
      s"CAST($CalibDropDenom AS DOUBLE)) AS BIGINT)"

  /** q123 — per-source quality-threshold calibration: instead of one
    * global cutoff (which silently over-filters whole domains whose
    * score DISTRIBUTION sits lower), compute each source's own
    * cutoff at a fixed drop rate — the k-th smallest stopword-ratio
    * score with k = ceil(n/10) — so every domain sheds exactly its
    * worst decile. This is the calibration step run before q118-style
    * cascades when sources are heterogeneous (the mC4/CCNet
    * per-language threshold trick).
    *
    * Exact order statistics, not approx quantiles, because the
    * cutoff must be engine-reproducible: the k-th value of a
    * per-source sort with (score, doc_id) tie-order. The production
    * path is the TWO-PASS HISTOGRAM cutoff (the promised q65 swap,
    * now implemented): because scores round through the SAME
    * floorRound(6) as q26 before ranking (making rank order itself
    * engine-independent), the score domain is bounded — at most 10⁶+1
    * distinct values in [0,1] — so the k-th order statistic's VALUE
    * is fully determined by the per-(source, score) count histogram:
    * cutoff = min score whose cumulative count ≥ k. (The doc_id
    * tie-break affects which document sits at rank k, never the score
    * at rank k.) That replaces the per-source full window sort — one
    * sorted partition per source, the q65-documented skew cliff —
    * with a map-side-combined aggregate whose shuffle carries at most
    * |sources|×10⁶ histogram rows regardless of corpus size, plus a
    * window over that tiny histogram. Strictly cheaper at EVERY
    * size, so there is no crossover a runtime size switch would
    * protect; [[q123WindowCutoffs]] keeps the direct formulation as
    * the spec-checked differential verifier of this rewrite. */
  def q123(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = q123Scored(spark, sfDir)
    scored.join(broadcast(q123HistCutoffs(scored)), "source")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), max("cutoff").as("cutoff"),
        sum(when(col("score") < col("cutoff"), 1L).otherwise(0L)).as("n_dropped"))
      .orderBy("source")
  }

  /** q123 pass 0: per-doc rounded stopword-ratio scores. */
  private[graft] def q123Scored(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), col("source"),
        floorRound(expr(s"size(filter(t, x -> x IN ($stopList)))")
          .cast("double") / size(col("t")), 6).as("score"))

  /** q123 production cutoff: two-pass histogram. The rank-k score is
    * the first histogram bucket whose cumulative count reaches k —
    * the filter keeps the bucket where the cumulative count crosses k
    * (cum ≥ k and cum − c < k), exactly one row per source. */
  private[graft] def q123HistCutoffs(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("source").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored.groupBy("source", "score").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("source")))
      .filter(col("cum") >= expr(calibKFormula) &&
        col("cum") - col("c") < expr(calibKFormula))
      .select(col("source"), col("score").as("cutoff"))
  }

  /** q123 differential verifier: the direct per-source window-sort
    * formulation (rank every doc, take rank k). Kept ONLY for the
    * spec that proves the histogram rewrite agrees with it — not a
    * production path (one fully-sorted partition per source). */
  private[graft] def q123WindowCutoffs(scored: DataFrame): DataFrame =
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("score"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
      .filter(col("rn") === expr(calibKFormula))
      .select(col("source"), col("score").as("cutoff"))

  val q123Sql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |    ${floorRoundSql(
          s"CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopList))) AS DOUBLE) / len(string_split(text, ' '))", 6)} AS score
       |  FROM documents),
       |ranked AS (
       |  SELECT source, score,
       |    row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY source) AS n
       |  FROM scored),
       |cutoffs AS (
       |  SELECT source, score AS cutoff FROM ranked
       |  WHERE rn = $calibKFormula)
       |SELECT s.source, count(*) AS n_docs, max(c.cutoff) AS cutoff,
       |  CAST(sum(CASE WHEN s.score < c.cutoff THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped
       |FROM scored s JOIN cutoffs c ON s.source = c.source
       |GROUP BY s.source ORDER BY s.source""".stripMargin

  /** q125 shared ln leaf: ln of an integer column, CAST-every-leaf +
    * floorRound(12) before any product/sum (the q114 libm-ulp and
    * round-5 decimal-literal rules). */
  private def lnLeaf(c: String): String =
    floorRoundSql(s"ln(CAST($c AS DOUBLE))", 12)

  /** q125 OLS fit over the spectrum moments (nd, sx, sx2, sy, sy2,
    * sxy — all DOUBLE): the shared [[Ols]] formulas (same strings as
    * q89's fit), degenerate-guarded on the POINT COUNT `nd <= 1` —
    * not on `denX = 0`, which a 1-point spectrum at freq ≥ 2 misses
    * by a ~1e-13 rounding residual (see [[Ols]] scaladoc) — so a
    * source whose types all share one frequency reports slope 0 /
    * R² 0 identically on both engines, and R² is range-clamped to
    * its mathematical [0,1]. */
  private val zipfSlopeF = Ols.slopeGuarded("nd", "sx", "sx2", "sy", "sxy")
  private val zipfR2F = Ols.r2Guarded("nd", "sx", "sx2", "sy", "sy2", "sxy")

  /** q125 — Zipf frequency-spectrum diagnostic per source: the corpus
    * QA check that catches templated/machine-generated sources by
    * their token-frequency SHAPE rather than any per-document signal.
    * Natural text follows Zipf's law, so the frequency spectrum (how
    * many types occur exactly f times) is near log-log linear with a
    * characteristic negative slope; keyword-stuffed or boilerplate
    * sources bend or flatten it. Reported per source: token/type
    * totals, spectrum size, and the closed-form OLS fit (slope + R²)
    * of ln(n_types) on ln(freq) — the q89 "regression without
    * gradient descent" discipline applied one aggregate higher.
    * (The synthetic test corpus demonstrates the flag live: its
    * near-uniform word soup fits POSITIVE slopes on 16/20 sources —
    * precisely the non-Zipfian signature this check exists to catch;
    * natural text sits strongly negative.)
    *
    * Scale shape: ONE corpus pass (token explode → map-combined
    * (source, tok) counts), then a frequency-of-frequencies rollup —
    * O(vocabulary) in, O(sources × distinct frequencies) out, with
    * the distinct-frequency count bounded by √(2·tokens) per source
    * (f·n_f ≤ N forces few distinct f) — so the OLS moments aggregate
    * over a provably TINY relation; token totals derive from the
    * spectrum itself (Σ f·n_f), costing no extra pass.
    *
    * Determinism: ln leaves floorRound to 12 (libm ulp skew), x·y /
    * x² products of bit-identical doubles are correctly-rounded IEEE
    * (the q119 argument) and sum in DECIMAL(28,12); the final slope /
    * R² algebra runs in DOUBLE through the ONE shared [[Ols]] formula
    * string with its count-based degenerate guard. */
  /** The shared (source, tok) frequency relation both corpus-shape
    * diagnostics (q125 Zipf, q129 Heaps/hapax) derive from — ONE
    * definition per engine (the mixtureRates/keepTest discipline), so
    * a tokenizer-semantics change can never desynchronize the two
    * reports that the docs present as sharing one stage. */
  private def sourceTokenFreq(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("freq"))

  /** DuckDB twin of [[sourceTokenFreq]] — the `tf` CTE. */
  private val tfSql: String =
    """tf AS (
      |  SELECT source, tok, count(*) AS freq FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY source, tok)""".stripMargin

  def q125(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = sourceTokenFreq(spark, sfDir)
    val spec = tf.groupBy("source", "freq").agg(count(lit(1)).as("n_types"))
      .select(col("source"), col("freq"), col("n_types"),
        expr(lnLeaf("freq")).as("x"), expr(lnLeaf("n_types")).as("y"))
    val m = spec.groupBy("source").agg(
      count(lit(1)).cast("double").as("nd"),
      sum(col("freq") * col("n_types")).as("n_tokens"),
      sum(col("n_types")).as("n_types_total"),
      sum(col("x").cast("decimal(28,12)")).cast("double").as("sx"),
      sum(expr("CAST(x * x AS DECIMAL(28,12))")).cast("double").as("sx2"),
      sum(col("y").cast("decimal(28,12)")).cast("double").as("sy"),
      sum(expr("CAST(y * y AS DECIMAL(28,12))")).cast("double").as("sy2"),
      sum(expr("CAST(x * y AS DECIMAL(28,12))")).cast("double").as("sxy"))
    m.select(col("source"), col("n_tokens"),
        col("n_types_total").as("n_types"), col("nd").cast("long").as("n_freqs"),
        floorRound(expr(zipfSlopeF), 6).as("zipf_slope"),
        floorRound(expr(zipfR2F), 6).as("r2"))
      .orderBy("source")
  }

  val q125Sql: String =
    s"""WITH $tfSql,
       |spec AS (
       |  SELECT source, freq, count(*) AS n_types,
       |    ${lnLeaf("freq")} AS x, ${lnLeaf("count(*)")} AS y
       |  FROM tf GROUP BY source, freq),
       |m AS (
       |  SELECT source,
       |    CAST(count(*) AS DOUBLE) AS nd,
       |    CAST(sum(freq * n_types) AS BIGINT) AS n_tokens,
       |    CAST(sum(n_types) AS BIGINT) AS n_types_total,
       |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sx2,
       |    CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(y * y AS DECIMAL(28,12))) AS DOUBLE) AS sy2,
       |    CAST(sum(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy
       |  FROM spec GROUP BY source)
       |SELECT source, n_tokens, n_types_total AS n_types,
       |  CAST(nd AS BIGINT) AS n_freqs,
       |  ${floorRoundSql(zipfSlopeF, 6)} AS zipf_slope,
       |  ${floorRoundSql(zipfR2F, 6)} AS r2
       |FROM m ORDER BY source""".stripMargin

  /** q129 Heaps fit formulas — the same shared [[Ols]] strings and
    * count-based degeneracy guard as the q125 Zipf fit (a 1-source
    * corpus reports beta 0 / r2 0 on both engines identically). */
  private val heapsBetaF = Ols.slopeGuarded("nd", "sx", "sx2", "sy", "sxy")
  private val heapsR2F = Ols.r2Guarded("nd", "sx", "sx2", "sy", "sy2", "sxy")

  /** q129 — Heaps-law vocabulary growth + hapax diagnostic: the
    * second corpus-shape QA check alongside q125's Zipf spectrum.
    * Per source: token/type totals, hapax count (types occurring
    * exactly once) and hapax ratio — the classic OOV-risk /
    * crawl-noise signal (a source whose vocabulary is mostly
    * singletons is boilerplate-ridden or mis-tokenized); across
    * sources: the Heaps exponent β from fitting ln V on ln N
    * (V = k·N^β, β ≈ 0.4–0.6 for natural text) with the shared
    * guarded [[Ols]] algebra — a β near 1 means vocabulary grows as
    * fast as the corpus, i.e. the "tokens" are mostly unique noise.
    *
    * Scale shape: ONE corpus explode into the map-combined
    * (source, tok) frequency relation (the identical first stage as
    * q125 — at 100 TB a nightly corpus-QA suite would share it);
    * everything after is O(sources). The fit consumes ln-leaves
    * floorRound-ed to 12 decimals before DECIMAL summation (the
    * codified libm-skew rule), and the O(sources) fit row broadcasts
    * back onto the per-source report. */
  def q129(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = sourceTokenFreq(spark, sfDir)
    val per = tf.groupBy("source").agg(
        sum("freq").as("n_tokens"),
        count(lit(1)).as("n_types"),
        count(when(col("freq") === 1, 1)).as("n_hapax"))
      .withColumn("x", expr(lnLeaf("n_tokens")))
      .withColumn("y", expr(lnLeaf("n_types")))
    val fit = per.agg(
      count(lit(1)).cast("double").as("nd"),
      sum(col("x").cast("decimal(28,12)")).cast("double").as("sx"),
      sum(expr("CAST(x * x AS DECIMAL(28,12))")).cast("double").as("sx2"),
      sum(col("y").cast("decimal(28,12)")).cast("double").as("sy"),
      sum(expr("CAST(y * y AS DECIMAL(28,12))")).cast("double").as("sy2"),
      sum(expr("CAST(x * y AS DECIMAL(28,12))")).cast("double").as("sxy"))
    per.crossJoin(broadcast(fit))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        floorRound(col("n_hapax").cast("double") / col("n_types"), 6)
          .as("hapax_ratio"),
        floorRound(expr(heapsBetaF), 6).as("heaps_beta"),
        floorRound(expr(heapsR2F), 6).as("heaps_r2"))
      .orderBy("source")
  }

  val q129Sql: String =
    s"""WITH $tfSql,
       |per AS (
       |  SELECT source, CAST(sum(freq) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_types,
       |    CAST(count(CASE WHEN freq = 1 THEN 1 END) AS BIGINT) AS n_hapax
       |  FROM tf GROUP BY source),
       |pl AS (
       |  SELECT source, n_tokens, n_types, n_hapax,
       |    ${lnLeaf("n_tokens")} AS x, ${lnLeaf("n_types")} AS y
       |  FROM per),
       |fit AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS nd,
       |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sx2,
       |    CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(y * y AS DECIMAL(28,12))) AS DOUBLE) AS sy2,
       |    CAST(sum(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy
       |  FROM pl)
       |SELECT source, n_tokens, n_types, n_hapax,
       |  ${floorRoundSql("CAST(n_hapax AS DOUBLE) / n_types", 6)} AS hapax_ratio,
       |  ${floorRoundSql(heapsBetaF, 6)} AS heaps_beta,
       |  ${floorRoundSql(heapsR2F, 6)} AS heaps_r2
       |FROM pl, fit ORDER BY source""".stripMargin

  /** q126 head size: the merge table a BPE trainer would act on. */
  private val BpeTopPairs = 30

  /** q126 — BPE merge-pair statistics: corpus-weighted counts of
    * adjacent CHARACTER pairs inside tokens — exactly the statistic a
    * byte-pair-encoding tokenizer trainer maximizes on its first
    * merge round (Sennrich et al. 2016's count table). Reported per
    * pair: the occurrence count weighted by token frequency (a pair
    * occurring twice in one token type counts twice per occurrence of
    * that token) and the number of distinct token types containing
    * it; head = top 30 by weighted count.
    *
    * Scale shape — the real BPE-trainer trick: the corpus is touched
    * ONCE (token explode → map-combined vocabulary counts), and the
    * quadratic-ish work — expanding every within-token character
    * pair — runs over the VOCABULARY relation (O(|V|·len), millions
    * of rows at web scale), never the corpus (trillions of tokens).
    * A naive per-document character explode would generate ~n_chars
    * rows per document corpus-wide; aggregating first makes the
    * expansion cost independent of corpus size for a fixed
    * vocabulary. PlanShapeSpec pins the Generate above the vocab
    * Aggregate. Head selection is TakeOrdered (no global sort).
    *
    * Determinism: counts are exact integers; ordering ties break on
    * the pair string itself. Both engines index substrings by
    * codepoint, so the pair table agrees under the non-ASCII BMP
    * fixtures exercised by dev/nasty_fixture.py. */
  def q126(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .filter(length(col("tok")) >= 2)
    vocab
      .select(col("tok"), col("freq"),
        explode(expr(
          "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
          .as("pair"))
      .groupBy("pair")
      .agg(sum("freq").as("n_weighted"), countDistinct(col("tok")).as("n_types"))
      .orderBy(col("n_weighted").desc, col("pair"))
      .limit(BpeTopPairs)
  }

  val q126Sql: String =
    s"""WITH vocab AS (
       |  SELECT tok, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents) u
       |  GROUP BY tok HAVING len(tok) >= 2),
       |pairs AS (
       |  SELECT tok, freq,
       |    unnest(list_transform(range(1, len(tok)), i -> tok[i:i+1])) AS pair
       |  FROM vocab)
       |SELECT pair, CAST(sum(freq) AS BIGINT) AS n_weighted,
       |  CAST(count(DISTINCT tok) AS BIGINT) AS n_types
       |FROM pairs GROUP BY pair
       |ORDER BY n_weighted DESC, pair LIMIT $BpeTopPairs""".stripMargin

  /** q167 merge rounds: enough to exercise multi-symbol merges (round
    * 2+ can pick a pair containing round 1's merged symbol) while the
    * oracle's unrolled CTE stays readable. */
  private[graft] val BpeMergeRounds = 6

  /** q167 — iterative BPE merge training (Sennrich et al. 2016): the
    * actual tokenizer-training loop q126 only takes the first step
    * of. Each round counts adjacent SYMBOL pairs over the vocabulary
    * (weighted by token frequency), applies the single best merge
    * (max weight, ties on the symbol pair) to every token's symbol
    * sequence, and re-counts — [[BpeMergeRounds]] rounds; the output
    * is the ordered merge table a BPE tokenizer ships as its model.
    *
    * Scale shape — the q77 Lloyd's-iteration pattern: the corpus is
    * touched ONCE (token explode → map-combined vocabulary counts,
    * cached); every round is a vocabulary-sized pass (O(|V|·len)
    * rows through one map-combined pair aggregate), and the driver
    * holds exactly ONE row per round (the argmax — O(k) total state,
    * never a vocabulary collect). At web scale the vocabulary is
    * millions of rows against a corpus of trillions of tokens, so the
    * k recount passes cost k·|V|, independent of corpus size.
    *
    * Merge application is a per-token string rewrite with GREEDY
    * LEFT-TO-RIGHT non-overlapping semantics — the BPE contract
    * ("a a a" under merge (a,a) → "aa a", not "a aa") — expressed as
    * a plain `replace` over a space-delimited symbol string: doubling
    * the separators first lets adjacent matches share boundary
    * spaces ("a b a b" → "ab ab" in one scan), and both engines'
    * `replace` scan left-to-right continuing AFTER each replacement,
    * so Spark and the DuckDB oracle rewrite bit-identically
    * (OperatorSpec additionally replays the loop in independent
    * Scala list code). The oracle unrolls the k rounds as chained
    * CTEs with scalar-subquery merges — the q77/q158 precedent.
    *
    * Determinism: weights are exact BIGINT sums; the argmax orders on
    * (w DESC, sym_a, sym_b) — binary string collation on both
    * engines. A merged symbol can never collide ambiguously with the
    * separator: symbols descend from space-split tokens, so no symbol
    * ever contains a space. */
  def q167(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // q167 IS the training benchmark and always retrains; the encode
    // path (q169) serves the same table from `trainedMerges`.
    bpeTrain(spark, sfDir).toDF("round", "sym_a", "sym_b", "merged", "n_weighted")
      .orderBy("round")
  }

  /** The q167 training loop, extracted so the merge-table memo can be
    * built without the DataFrame wrapper (see [[trainedMerges]]). */
  private def bpeTrain(spark: SparkSession, sfDir: String)
      : Seq[(Long, String, String, String, Long)] = {
    val v0 = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .filter(length(col("tok")) >= 2)
      .select(col("freq"), expr(
        "concat_ws(' ', transform(sequence(1, length(tok)), i -> substring(tok, i, 1)))")
        .as("syms"))
      .scopedCache
    v0.count() // eager — all k recount passes read the cache
    try bpeMergeLoop(v0)
    finally { v0.unpersist(false); () } // trainedCodebooks' discipline:
    // the vocabulary cache dies with the training call, so the
    // prebuild path (which runs outside any harness drain) leaves no
    // unregistered persist behind for the bench cache audit to flag.
  }

  private def bpeMergeLoop(v0: DataFrame): Seq[(Long, String, String, String, Long)] = {
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var cur: DataFrame = v0
    var round = 1
    while (round <= BpeMergeRounds) {
      val top = cur
        .select(col("freq"), split(col("syms"), " ").as("arr"))
        // q122's guard: sequence(1, 0) is DESCENDING [1, 0] in Spark
        // and element_at(arr, 0) throws under ANSI — size-1 symbol
        // sequences have no pairs on either engine.
        .filter(size(col("arr")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(arr) - 1), i -> " +
            "struct(element_at(arr, i) AS a, element_at(arr, i + 1) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("w"))
        .orderBy(col("w").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) round = BpeMergeRounds + 1 // vocabulary fully merged
      else {
        val a = top(0).getString(0); val b = top(0).getString(1)
        merges += ((round.toLong, a, b, a + b, top(0).getLong(2)))
        cur = cur.withColumn("syms", bpeMergeCol(col("syms"), lit(a), lit(b)))
        round += 1
      }
    }
    merges.toSeq
  }

  /** Trained BPE merge table memoized per corpus — the
    * [[graft.operators.Similarity]] trained-model discipline applied
    * to the tokenizer ([[graft.functions.FamilyIndex]] value kind):
    * the ENCODE path (q169) reads it, so serving cells measure
    * encoding, not a retrain per query — how a production pipeline
    * ships a tokenizer model. O(k) driver values (6 merge rows). */
  private[graft] val trainedMerges =
    graft.functions.FamilyIndex.value("bpe-merges", "documents")(bpeTrain)

  /** Serve the tokenizer-model memo so bench cells measure SERVING —
    * the [[graft.operators.Similarity.prebuildIndexes]] twin for the
    * text family. */
  private[graft] def prebuildIndexes(spark: SparkSession, sfDir: String): Seq[String] =
    graft.functions.FamilyIndex.prebuild(spark, sfDir)(trainedMerges)

  /** q169 — BPE corpus encoding (the APPLY half of the tokenizer loop
    * q167 trains): encode every token of every document with the
    * trained merge table and report per-source tokenizer statistics —
    * weighted token/char/symbol totals, symbols-per-token (the
    * sequence-length multiplier a context budget planner needs), and
    * chars-per-symbol (the compression the merges bought). q148
    * measures fertility of a FIXED whitespace+punct tokenizer; this
    * measures the LEARNED tokenizer end-to-end: train (q167) → encode
    * (q169) → budget (q138) is the production tokenizer loop.
    *
    * Encoding applies the k merges IN TRAINING ORDER, each pass
    * greedy left-to-right — the standard BPE inference contract
    * (Sennrich et al. 2016) — via the same doubled-separator
    * `replace` as training ([[bpeMergeCol]]), so train and encode
    * can never disagree on merge semantics. Unlike training, which
    * needs a recount barrier between merges, encoding is a FIXED
    * merge list: all k rewrites compose into ONE codegen'd
    * projection, so the whole query is a single corpus scan → a
    * map-combined (source, tok) aggregate → the per-token encode on
    * O(sources × vocab) pre-aggregated rows → an O(sources) rollup.
    * Join-free, two domain-bounded shuffles; at 100 TB the encode
    * expression runs over the vocabulary-sized aggregate, never once
    * per corpus token.
    *
    * The merge table comes from [[trainedMerges]] (driver memo, O(k)
    * rows) and is compiled into the plan as literals — the exact
    * shape of shipping a tokenizer model to executors. Determinism:
    * the encode is a pure string rewrite (bit-identical on both
    * engines, q167's proof), totals are exact BIGINT sums, and the
    * two ratios go through the shared floorRound discipline. */
  def q169(spark: SparkSession, sfDir: String): DataFrame = {
    val merges = trainedMerges(spark, sfDir)
    // len-0 tokens (doubled separators in text) have no symbols on
    // either engine and are excluded from the encode universe.
    val st = Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) >= 1)
      .groupBy("source", "tok").agg(count(lit(1)).as("n"))
    st.withColumn("n_syms", size(split(bpeEncodeCol(merges), " ")).cast("long"))
      .groupBy("source")
      .agg(sum("n").as("n_tokens"),
        sum(col("n") * length(col("tok")).cast("long")).as("n_chars"),
        sum(col("n") * col("n_syms")).as("n_symbols"),
        max("n_syms").as("max_token_syms"),
        floorRound(sum(col("n") * col("n_syms")).cast("double") /
          sum(col("n")).cast("double"), 6).as("syms_per_token"),
        floorRound(sum(col("n") * length(col("tok")).cast("long")).cast("double") /
          sum(col("n") * col("n_syms")).cast("double"), 6).as("chars_per_symbol"))
      .orderBy("source")
  }

  /** The full k-merge encode of a whitespace token column `tok` —
    * char-split symbols, then every trained merge applied in training
    * order, all composed into ONE codegen'd projection. The SINGLE
    * encode definition shared by batch q169 and the streaming encode
    * twin (streaming/CorpusStreams.bpeEncodeStream), so the two paths
    * cannot disagree on merge semantics. */
  private[graft] def bpeEncodeCol(
      merges: Seq[(Long, String, String, String, Long)]): org.apache.spark.sql.Column = {
    val syms0: org.apache.spark.sql.Column = expr(
      "concat_ws(' ', transform(sequence(1, length(tok)), i -> substring(tok, i, 1)))")
    merges.foldLeft(syms0) {
      case (c, (_, a, b, _, _)) => bpeMergeCol(c, lit(a), lit(b))
    }
  }

  /** One greedy merge pass of pair (a, b) over a space-delimited
    * symbol string — the doubled-separator replace trick (see q167's
    * scaladoc); `functions.replace` keeps symbol text out of SQL
    * literals entirely. */
  private def bpeMergeCol(syms: org.apache.spark.sql.Column,
      a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val doubled = concat(lit("  "), replace(syms, lit(" "), lit("  ")), lit("  "))
    val merged = replace(doubled,
      concat(lit(" "), a, lit("  "), b, lit(" ")),
      concat(lit(" "), a, b, lit(" ")))
    trim(replace(merged, lit("  "), lit(" ")))
  }

  /** The same merge pass as a DuckDB SQL fragment over column/expr
    * text (the scalar-subquery args keep symbol text out of
    * literals on the oracle side too). */
  private def bpeMergeSql(syms: String, a: String, b: String): String =
    s"""trim(replace(replace(concat('  ', replace($syms, ' ', '  '), '  '),
       |    concat(' ', $a, '  ', $b, ' '), concat(' ', $a, $b, ' ')),
       |  '  ', ' '))""".stripMargin

  /** The q167 training tower as a reusable CTE-list fragment (v0 +
    * one p/m/v block per round) — q167Sql reads the merge rows out of
    * it; the q169 encode oracle replays the same tower to recover the
    * merge table its encode applies. Every CTE is MATERIALIZED:
    * DuckDB inlines plain CTEs, and each round references the
    * previous vocabulary ~3× (the pair scan plus the two
    * scalar-subquery merge args), so an inlined tower re-evaluates
    * v0 ~3^k times — measured minutes at sf0.001; materialized, each
    * round is one vocabulary-sized pass, the same cost model as the
    * Spark loop. */
  private def bpeTowerSql: String = {
    val blocks = (1 to BpeMergeRounds).map { r =>
      val prev = s"v${r - 1}"
      s"""p$r AS MATERIALIZED (
         |  SELECT p.a AS a, p.b AS b, CAST(sum(freq) AS BIGINT) AS w
         |  FROM (
         |    SELECT freq,
         |      unnest(list_transform(range(1, len(string_split(syms, ' '))),
         |        i -> struct_pack(a := string_split(syms, ' ')[i],
         |                         b := string_split(syms, ' ')[i + 1]))) AS p
         |    FROM $prev WHERE len(string_split(syms, ' ')) >= 2) t
         |  GROUP BY p.a, p.b),
         |m$r AS MATERIALIZED (SELECT a, b, w FROM p$r ORDER BY w DESC, a, b LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT freq, ${bpeMergeSql("syms",
             s"(SELECT a FROM m$r)", s"(SELECT b FROM m$r)")} AS syms
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""v0 AS MATERIALIZED (
       |  SELECT freq,
       |    array_to_string(list_transform(range(1, len(tok) + 1), i -> tok[i:i]), ' ') AS syms
       |  FROM (
       |    SELECT tok, count(*) AS freq FROM (
       |      SELECT unnest(string_split(text, ' ')) AS tok FROM documents) u
       |    GROUP BY tok HAVING len(tok) >= 2) v),
       |$blocks""".stripMargin
  }

  val q167Sql: String = {
    val union = (1 to BpeMergeRounds)
      .map(r => s"SELECT $r AS round, a, b, w FROM m$r").mkString(" UNION ALL ")
    s"""WITH $bpeTowerSql
       |SELECT CAST(round AS BIGINT) AS round, a AS sym_a, b AS sym_b,
       |  concat(a, b) AS merged, w AS n_weighted
       |FROM ($union) ORDER BY round""".stripMargin
  }

  val q169Sql: String = {
    // The encode ladder: e0 = char-split symbols per (source, tok)
    // aggregate row, e_r = merge r applied — the same bpeMergeSql
    // rewrite the tower's v_r uses, so oracle training and oracle
    // encoding share one merge definition, exactly like the Spark
    // side shares bpeMergeCol. The scalar subqueries are COALESCEd to
    // '': when training exhausts the pair space before round k (the
    // Spark loop's top.isEmpty break), m_r is EMPTY and a bare
    // subquery would return NULL — replace(syms, NULL, …) then
    // NULL-poisons every later rung while the Spark side simply
    // applies fewer merges. With a = b = '' the search pattern is
    // four consecutive spaces, which the doubled-separator encoding
    // can never contain (symbols are non-empty), so an exhausted
    // round is an exact no-op on both engines.
    val ladder = (1 to BpeMergeRounds).map { r =>
      s"""e$r AS MATERIALIZED (
         |  SELECT source, tok, n, ${bpeMergeSql("syms",
             s"coalesce((SELECT a FROM m$r), '')",
             s"coalesce((SELECT b FROM m$r), '')")} AS syms
         |  FROM e${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH $bpeTowerSql,
       |toks AS MATERIALIZED (
       |  SELECT source, tok, count(*) AS n FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents) u
       |  WHERE len(tok) >= 1 GROUP BY source, tok),
       |e0 AS MATERIALIZED (
       |  SELECT source, tok, n,
       |    array_to_string(list_transform(range(1, len(tok) + 1), i -> tok[i:i]), ' ') AS syms
       |  FROM toks),
       |$ladder
       |SELECT source,
       |  CAST(sum(n) AS BIGINT) AS n_tokens,
       |  CAST(sum(n * len(tok)) AS BIGINT) AS n_chars,
       |  CAST(sum(n * len(string_split(syms, ' '))) AS BIGINT) AS n_symbols,
       |  CAST(max(len(string_split(syms, ' '))) AS BIGINT) AS max_token_syms,
       |  ${floorRoundSql(
            "CAST(sum(n * len(string_split(syms, ' '))) AS DOUBLE) " +
              "/ CAST(sum(n) AS DOUBLE)", 6)} AS syms_per_token,
       |  ${floorRoundSql(
            "CAST(sum(n * len(tok)) AS DOUBLE) " +
              "/ CAST(sum(n * len(string_split(syms, ' '))) AS DOUBLE)", 6)}
       |    AS chars_per_symbol
       |FROM e$BpeMergeRounds GROUP BY source ORDER BY source""".stripMargin
  }

  /** q128 — quality-signal correlation audit: the Pearson matrix
    * between the three cheap per-document signals every filter
    * cascade leans on — token count, character count, distinct-token
    * (type) count — per source. The audit a pipeline owner runs
    * BEFORE tuning q118-style cascade thresholds: two signals
    * correlating ≈1 within a source are redundant rules (one can be
    * dropped); a source whose token/char correlation diverges from
    * the fleet signals a tokenization anomaly.
    *
    * Scale shape: all three signals are doc-local expressions
    * (`size(split)`, the stored n_chars, `size(array_distinct)`), so
    * the whole query is ONE codegen'd corpus pass feeding a map-side
    * partial DECIMAL moment aggregate — O(sources) rows ever cross
    * the wire, no joins, no windows. The Pearson algebra runs in
    * DOUBLE over the shared [[graft.functions.Ols]] formula strings
    * (same string → same bits on both engines — the q88/q125
    * discipline), and the moments are exact: integer-valued signals
    * summed in DECIMAL(28,10), associative under any aggregation
    * tree or retry order. */
  def q128(spark: SparkSession, sfDir: String): DataFrame = {
    val m = Tables.documents(spark, sfDir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("x"),
        col("n_chars").as("y"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("z"))
      .groupBy("source")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x").cast("decimal(28,10)")).cast("double").as("sx"),
        sum((col("x") * col("x")).cast("decimal(28,10)")).cast("double").as("sx2"),
        sum(col("y").cast("decimal(28,10)")).cast("double").as("sy"),
        sum((col("y") * col("y")).cast("decimal(28,10)")).cast("double").as("sy2"),
        sum(col("z").cast("decimal(28,10)")).cast("double").as("sz"),
        sum((col("z") * col("z")).cast("decimal(28,10)")).cast("double").as("sz2"),
        sum((col("x") * col("y")).cast("decimal(28,10)")).cast("double").as("sxy"),
        sum((col("x") * col("z")).cast("decimal(28,10)")).cast("double").as("sxz"),
        sum((col("y") * col("z")).cast("decimal(28,10)")).cast("double").as("syz"))
    m.select(col("source"), col("n").cast("long").as("n_docs"),
        floorRound(expr(Ols.corr("n", "sx", "sx2", "sy", "sy2", "sxy")), 6)
          .as("corr_tokens_chars"),
        floorRound(expr(Ols.corr("n", "sx", "sx2", "sz", "sz2", "sxz")), 6)
          .as("corr_tokens_types"),
        floorRound(expr(Ols.corr("n", "sy", "sy2", "sz", "sz2", "syz")), 6)
          .as("corr_chars_types"))
      .orderBy("source")
  }

  val q128Sql: String =
    s"""WITH d AS (
       |  SELECT source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
       |    n_chars AS y,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS z
       |  FROM documents),
       |m AS (
       |  SELECT source,
       |    CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(x * x AS DECIMAL(28,10))) AS DOUBLE) AS sx2,
       |    CAST(sum(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(y * y AS DECIMAL(28,10))) AS DOUBLE) AS sy2,
       |    CAST(sum(CAST(z AS DECIMAL(28,10))) AS DOUBLE) AS sz,
       |    CAST(sum(CAST(z * z AS DECIMAL(28,10))) AS DOUBLE) AS sz2,
       |    CAST(sum(CAST(x * y AS DECIMAL(28,10))) AS DOUBLE) AS sxy,
       |    CAST(sum(CAST(x * z AS DECIMAL(28,10))) AS DOUBLE) AS sxz,
       |    CAST(sum(CAST(y * z AS DECIMAL(28,10))) AS DOUBLE) AS syz
       |  FROM d GROUP BY source)
       |SELECT source, CAST(n AS BIGINT) AS n_docs,
       |  ${floorRoundSql(Ols.corr("n", "sx", "sx2", "sy", "sy2", "sxy"), 6)}
       |    AS corr_tokens_chars,
       |  ${floorRoundSql(Ols.corr("n", "sx", "sx2", "sz", "sz2", "sxz"), 6)}
       |    AS corr_tokens_types,
       |  ${floorRoundSql(Ols.corr("n", "sy", "sy2", "sz", "sz2", "syz"), 6)}
       |    AS corr_chars_types
       |FROM m ORDER BY source""".stripMargin

  /** q118 cascade thresholds (Gopher-rule shapes, tuned to be
    * non-degenerate on the synthetic corpus: each rule drops a
    * measurable slice at sf0.01). */
  private[graft] val CascMinTok = 20
  private[graft] val CascMaxTok = 90
  private[graft] val CascMinStopRatio = 0.02
  private[graft] val CascMinTtr = 0.35
  private[graft] val CascMaxTokRatio = 0.12

  /** q118's per-document signal row, computed in one O(n) pass:
    * tokenize (`split(" ", -1)`, the Catalyst/DuckDB-parity rule —
    * see [[Dedup.shingleSeq]]), count token frequencies in one hash
    * map, and derive the four cascade predicates with the exact
    * arithmetic of the old expression form (double division, the
    * same >= / <= comparisons). `p4` is None iff the old CASE WHEN
    * length guard produced NULL. Q118SignalsSpec pins this function
    * against the original higher-order-function expressions. */
  private[graft] def q118Signals(id: Long, text: String)
      : (Long, Long, Boolean, Boolean, Boolean, Option[Boolean]) = {
    val t = text.split(" ", -1)
    val n = t.length.toLong
    val counts = new java.util.HashMap[String, Long]()
    var nstop = 0L
    var i = 0
    while (i < t.length) {
      val tok = t(i)
      counts.merge(tok, 1L, _ + _)
      if (Stopwords.contains(tok)) nstop += 1
      i += 1
    }
    val nty = counts.size.toLong
    val p1 = n >= CascMinTok && n <= CascMaxTok
    val p2 = nstop.toDouble / n >= CascMinStopRatio
    val p3 = nty.toDouble / n >= CascMinTtr
    val p4 = if (p1) {
      var mx = 0L
      val it = counts.values().iterator()
      while (it.hasNext) { val c = it.next(); if (c > mx) mx = c }
      Some(mx.toDouble / n <= CascMaxTokRatio)
    } else None
    (id, n, p1, p2, p3, p4)
  }

  /** q118 — quality-filter cascade attrition report: the per-rule
    * drop table every corpus team publishes with a dataset release
    * (how many documents each filter removed, evaluated
    * SEQUENTIALLY — each rule only sees survivors of the previous
    * one, so the numbers sum to total attrition). Rules are the
    * Gopher-style length band, stopword-mass floor (salad/keyword
    * spam has no function words), type-token-ratio floor (low
    * diversity = boilerplate), and max-single-token frequency cap
    * (one token dominating = lists/logs).
    *
    * Scale shape: all four signals are doc-local array expressions
    * computed in ONE projection over ONE scan (no shuffle, fully
    * codegen'd), and the cascade is ONE global aggregate of
    * conditional counts unpivoted to a 4-row report — the whole
    * audit costs a single corpus pass regardless of rule count. */
  def q118(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // All four signals from ONE typed JVM pass per document (the
    // shingleSeq precedent): the r12 form computed them as array
    // higher-order functions — CodegenFallback interpreted lambdas,
    // and the maxtok signal was O(n_distinct × n) per doc
    // (`transform(array_distinct(t), x -> size(filter(t, y -> y = x)))`
    // re-scans the token array once per distinct token). One hash-map
    // count pass is O(n) per doc and gives n, nstop, n_types and
    // max-count together (guide §1.2 per-task work; the sf1 decade
    // ratio 8.51 for this cell was this quadratic). maxtok stays
    // guarded behind the length rule exactly like the old CASE WHEN:
    // docs failing p1 get None, and `p1 AND … AND NOT p4` evaluates
    // identically (false short-circuits before the NULL).
    val sigs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) => q118Signals(id, text) }
      .toDF("doc_id", "n", "p1", "p2", "p3", "p4")
    val agg = sigs.agg(
      count(lit(1)).as("n_total"),
      sum(when(!col("p1"), 1L).otherwise(0L)).as("d1"),
      sum(when(col("p1") && !col("p2"), 1L).otherwise(0L)).as("d2"),
      sum(when(col("p1") && col("p2") && !col("p3"), 1L).otherwise(0L)).as("d3"),
      sum(when(col("p1") && col("p2") && col("p3") && !col("p4"), 1L).otherwise(0L)).as("d4"))
    agg.selectExpr(
      """stack(4,
        |  'r1_length', n_total, d1,
        |  'r2_stopwords', n_total - d1, d2,
        |  'r3_diversity', n_total - d1 - d2, d3,
        |  'r4_max_token', n_total - d1 - d2 - d3, d4)
        |AS (rule, n_evaluated, n_dropped)""".stripMargin)
      .select(col("rule"), col("n_evaluated").cast("long").as("n_evaluated"),
        col("n_dropped").cast("long").as("n_dropped"),
        floorRound(col("n_dropped").cast("double") / col("n_evaluated"), 6)
          .as("drop_ratio"))
      .orderBy("rule")
  }

  val q118Sql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sig AS (
       |  SELECT doc_id, len(t) AS n,
       |    len(t) BETWEEN $CascMinTok AND $CascMaxTok AS p1,
       |    CAST(len(list_filter(t, x -> x IN ($stopList))) AS DOUBLE) / len(t)
       |      >= $CascMinStopRatio AS p2,
       |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) >= $CascMinTtr AS p3,
       |    CAST(CASE WHEN len(t) BETWEEN $CascMinTok AND $CascMaxTok
       |      THEN (SELECT max(cnt) FROM (
       |        SELECT count(*) AS cnt FROM unnest(t) AS u(x) GROUP BY x))
       |      END AS DOUBLE) / len(t) <= $CascMaxTokRatio AS p4
       |  FROM d),
       |agg AS (
       |  SELECT count(*) AS n_total,
       |    sum(CASE WHEN NOT p1 THEN 1 ELSE 0 END) AS d1,
       |    sum(CASE WHEN p1 AND NOT p2 THEN 1 ELSE 0 END) AS d2,
       |    sum(CASE WHEN p1 AND p2 AND NOT p3 THEN 1 ELSE 0 END) AS d3,
       |    sum(CASE WHEN p1 AND p2 AND p3 AND NOT p4 THEN 1 ELSE 0 END) AS d4
       |  FROM sig),
       |rows_ AS (
       |  SELECT 'r1_length' AS rule, n_total AS n_evaluated, d1 AS n_dropped FROM agg
       |  UNION ALL SELECT 'r2_stopwords', n_total - d1, d2 FROM agg
       |  UNION ALL SELECT 'r3_diversity', n_total - d1 - d2, d3 FROM agg
       |  UNION ALL SELECT 'r4_max_token', n_total - d1 - d2 - d3, d4 FROM agg)
       |SELECT rule, CAST(n_evaluated AS BIGINT) AS n_evaluated,
       |  CAST(n_dropped AS BIGINT) AS n_dropped,
       |  ${floorRoundSql("CAST(n_dropped AS DOUBLE) / n_evaluated", 6)} AS drop_ratio
       |FROM rows_ ORDER BY rule""".stripMargin

  /** q142 — per-source length-distribution drift (two-sample
    * Kolmogorov–Smirnov): for each source, the KS statistic between
    * its doc-token-length ECDF and the whole corpus's — the
    * distribution-drift monitor a pipeline runs when a source's
    * content shifts (scrape format change, new boilerplate) without
    * its volume or mean moving enough to trip simpler alarms. Reports
    * the statistic AND the length where the gap peaks (where the
    * distributions diverge, not just that they do).
    *
    * Cross-engine exactness: the sup runs over the INTEGER-valued
    * numerator |cum_src·n_all − cum_all·n_src| in DECIMAL(38,0) —
    * products of counts, exact on both engines — so the argmax
    * (gap DESC, length ASC) is bitwise engine-independent; the only
    * float is the single final division num/(n_src·n_all).
    *
    * Scale shape: one corpus pass to (source, len) counts; everything
    * after runs on the sources × distinct-lengths grid, which is
    * bounded by the LENGTH DOMAIN (docs are at most context-length
    * tokens), not by corpus size — the dense grid q114 had to avoid
    * is safe here by construction. ECDFs are cumulative windows over
    * that small table. */
  /** q142's document-length definition (whitespace token count) — one
    * Column shared with the streaming drift monitor
    * (streaming/CorpusStreams.lengthDriftStream), so the live path
    * cannot measure length differently from the batch statistic. */
  private[graft] def docLen: org.apache.spark.sql.Column =
    size(split(col("text"), " ")).cast("long")

  def q142(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .select(col("source"), docLen.as("len"))
      .groupBy("source", "len").agg(count(lit(1)).as("c"))
    val gcounts = counts.groupBy("len").agg(sum("c").as("cg"))
    val sources = counts.groupBy("source").agg(sum("c").as("n_src"))
    // Dense (source × distinct length) grid — bounded by the length
    // domain; absent cells carry c = 0 so every source's ECDF is
    // evaluated at every corpus jump point (where the sup can move).
    val grid = sources.crossJoin(gcounts)
      .join(counts, Seq("source", "len"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val wSrc = Window.partitionBy("source").orderBy("len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gaps = grid
      .withColumn("cum_src", sum("c").over(wSrc))
      .withColumn("cum_all", sum("cg").over(wSrc))
      .withColumn("n_all", sum("cg").over(Window.partitionBy("source")))
      .withColumn("num",
        abs(col("cum_src").cast("decimal(19,0)") * col("n_all").cast("decimal(19,0)") -
          col("cum_all").cast("decimal(19,0)") * col("n_src").cast("decimal(19,0)")))
    val wPick = Window.partitionBy("source")
      .orderBy(col("num").desc, col("len"))
    gaps.withColumn("rk", row_number().over(wPick))
      .filter(col("rk") === 1)
      .select(col("source"), col("n_src").as("n_docs"),
        floorRound(col("num").cast("double") /
          (col("n_src").cast("decimal(19,0)") * col("n_all").cast("decimal(19,0)"))
            .cast("double"), 6).as("ks_stat"),
        col("len").as("at_len"))
      .orderBy("source")
  }

  val q142Sql: String =
    s"""WITH counts AS (
       |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS len,
       |    count(*) AS c
       |  FROM documents GROUP BY source, len),
       |gcounts AS (SELECT len, CAST(sum(c) AS BIGINT) AS cg FROM counts GROUP BY len),
       |sources AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_src
       |            FROM counts GROUP BY source),
       |grid AS (
       |  SELECT s.source, g.len, g.cg, s.n_src, coalesce(c.c, 0) AS c
       |  FROM sources s CROSS JOIN gcounts g
       |  LEFT JOIN counts c ON c.source = s.source AND c.len = g.len),
       |gaps AS (
       |  SELECT source, len, n_src,
       |    sum(c) OVER (PARTITION BY source ORDER BY len
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_src,
       |    sum(cg) OVER (PARTITION BY source ORDER BY len
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all,
       |    sum(cg) OVER (PARTITION BY source) AS n_all
       |  FROM grid),
       |nums AS (
       |  SELECT source, len, n_src, n_all,
       |    abs(CAST(cum_src AS DECIMAL(19,0)) * CAST(n_all AS DECIMAL(19,0)) -
       |        CAST(cum_all AS DECIMAL(19,0)) * CAST(n_src AS DECIMAL(19,0)))
       |      AS num,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY abs(CAST(cum_src AS DECIMAL(19,0)) * CAST(n_all AS DECIMAL(19,0)) -
       |        CAST(cum_all AS DECIMAL(19,0)) * CAST(n_src AS DECIMAL(19,0))) DESC,
       |        len) AS rk
       |  FROM gaps)
       |SELECT source, n_src AS n_docs,
       |  ${floorRoundSql(
          "CAST(num AS DOUBLE) / CAST(CAST(n_src AS DECIMAL(19,0)) * CAST(n_all AS DECIMAL(19,0)) AS DOUBLE)", 6)}
       |    AS ks_stat,
       |  len AS at_len
       |FROM nums WHERE rk = 1 ORDER BY source""".stripMargin

  /** q138 per-source token budget (fixed by the training run, not the
    * corpus — bigger corpora keep a smaller greedy prefix). */
  private val TokenBudget = 500L

  /** q138 — token-budget corpus selection: per source, admit documents
    * in quality order (stopword-ratio score DESC, doc_id ASC — the
    * q123 score) while the running token total stays within a fixed
    * per-source budget, and report the kept prefix (docs, tokens,
    * cutoff score, budget utilization). This is the curation step that
    * turns "ranked corpus" into "training mixture under a token
    * budget".
    *
    * Scale shape: the obvious formulation — one window over every doc
    * per source — range-sorts each ENTIRE source on one task (a skew
    * bomb when one source is half the corpus). Instead this uses the
    * q123 histogram discipline, exact here because scores are already
    * rounded to 6 decimals: pass 1 aggregates (source, score) bucket
    * token sums — O(sources × distinct scores) rows — and a window
    * over that TINY table finds each source's boundary bucket (first
    * bucket, score-descending, whose cumulative crosses the budget);
    * pass 2 admits fully-fitting buckets with a broadcast semi-join
    * and sorts ONLY the boundary bucket's docs to fill the remaining
    * room. Two corpus scans, no per-source global sort. The DuckDB
    * twin is the naive window formulation — equal by construction,
    * which is exactly what the oracle is for.
    *
    * Both admission cases collapse into ONE rule: every candidate
    * bucket carries `room = min(btoks, budget − tokens_above)` —
    * a fully-fitting bucket's room equals its own token mass (its
    * doc_id-prefix condition is vacuously true), the boundary
    * bucket's is what the budget leaves. So pass 2 is a single
    * broadcast join + a window partitioned by (source, score): sorts
    * are bucket-local (docs sharing one rounded score in one
    * source), never per-source. */
  def q138(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), col("source"),
        size(col("t")).cast("long").as("toks"),
        floorRound(expr(s"size(filter(t, x -> x IN ($stopList)))")
          .cast("double") / size(col("t")), 6).as("score"))
    // Pass 1: bucket table — O(sources × distinct scores) rows after
    // a map-combined aggregate. cum is monotone along the greedy
    // (score DESC) order, so buckets with tokens_above >= budget are
    // fully rejected and admission stops inside the first overflow.
    val wDesc = Window.partitionBy("source").orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val meta = scored.groupBy("source", "score")
      .agg(sum("toks").as("btoks"))
      .withColumn("cum", sum("btoks").over(wDesc))
      .filter(col("cum") - col("btoks") < TokenBudget)
      .select(col("source"), col("score"),
        least(col("btoks"),
          lit(TokenBudget) - (col("cum") - col("btoks"))).as("room"))
    // Pass 2: one corpus scan, candidate buckets broadcast, prefix
    // admission inside each bucket by doc_id.
    val wIn = Window.partitionBy("source", "score").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored.join(broadcast(meta), Seq("source", "score"))
      .withColumn("wcum", sum("toks").over(wIn))
      .filter(col("wcum") <= col("room"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        sum("toks").as("kept_tokens"),
        min("score").as("cutoff_score"),
        floorRound(sum("toks").cast("double") / lit(TokenBudget.toDouble), 6)
          .as("utilization"))
      .orderBy("source")
  }

  val q138Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
       |    ${floorRoundSql(
          s"CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopList))) AS DOUBLE) / len(string_split(text, ' '))", 6)} AS score
       |  FROM documents),
       |c AS (
       |  SELECT *, sum(toks) OVER (PARTITION BY source
       |    ORDER BY score DESC, doc_id) AS cum FROM d)
       |SELECT source, count(*) AS n_kept,
       |  CAST(sum(toks) AS BIGINT) AS kept_tokens,
       |  min(score) AS cutoff_score,
       |  ${floorRoundSql(s"CAST(sum(toks) AS DOUBLE) / $TokenBudget", 6)}
       |    AS utilization
       |FROM c WHERE cum <= $TokenBudget GROUP BY source ORDER BY source""".stripMargin

  /** q148 — tokenizer fertility / encoding-cost audit per
    * (source, lang): documents, tokens, characters, tokens-per-doc,
    * characters-per-token (the fertility number that converts a
    * storage budget into a token budget and prices each slice of the
    * mixture), and the mean token length with separators excluded.
    * q25 profiles per LANGUAGE only; mixture planning (q72/q141)
    * allocates per SOURCE, and a source whose chars-per-token is 2×
    * the corpus mean costs 2× the storage per training token — this
    * is the grid that exposes that before the budget is set.
    *
    * Char accounting is computed from the text itself
    * (`length(text)`), not the stored n_chars column, so the audit is
    * immune to a stale metadata column (q110 checks that column
    * separately). Mean token length uses the exact separator
    * identity: Σ len(tok) = Σ len(text) − Σ(n_tok − 1) for
    * single-space splits, so no second tokenize pass is needed.
    *
    * Scale shape: ONE narrow projection (two codegen'd expressions
    * per row) into a map-side-combined aggregate of O(sources×langs)
    * groups — the cheapest possible audit at 100 TB; every reported
    * ratio divides two exact integer sums. */
  def q148(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"), col("lang"),
        length(col("text")).cast("long").as("nc"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("nt").as("n_tokens"),
        sum("nc").as("n_chars"),
        floorRound(sum("nt").cast("double") / count(lit(1)), 6)
          .as("tokens_per_doc"),
        floorRound(sum("nc").cast("double") / sum("nt").cast("double"), 6)
          .as("chars_per_token"),
        floorRound((sum("nc") - sum("nt") + count(lit(1))).cast("double") /
          sum("nt").cast("double"), 6).as("avg_token_len"))
      .orderBy("source", "lang")

  val q148Sql: String =
    s"""WITH d AS (
       |  SELECT source, lang, CAST(len(text) AS BIGINT) AS nc,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
       |  FROM documents)
       |SELECT source, lang, count(*) AS n_docs,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens,
       |  CAST(sum(nc) AS BIGINT) AS n_chars,
       |  ${floorRoundSql("CAST(sum(nt) AS DOUBLE) / count(*)", 6)}
       |    AS tokens_per_doc,
       |  ${floorRoundSql(
            "CAST(sum(nc) AS DOUBLE) / CAST(sum(nt) AS DOUBLE)", 6)}
       |    AS chars_per_token,
       |  ${floorRoundSql(
            "CAST(sum(nc) - sum(nt) + count(*) AS DOUBLE) / CAST(sum(nt) AS DOUBLE)", 6)}
       |    AS avg_token_len
       |FROM d GROUP BY source, lang ORDER BY source, lang""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q122_bigram_lm_xent" -> q122 _,
    "q123_quality_calibration" -> q123 _,
    "q125_zipf_spectrum" -> q125 _,
    "q126_bpe_merge_pairs" -> q126 _,
    "q167_bpe_merge_train" -> q167 _,
    "q169_bpe_encode" -> q169 _,
    "q128_signal_correlation" -> q128 _,
    "q129_heaps_hapax" -> q129 _,
    "q118_filter_cascade" -> q118 _,
    "q107_lm_xent_score" -> q107 _,
    "q135_dsir_weights" -> q135 _,
    "q138_token_budget" -> q138 _,
    "q142_length_ks_drift" -> q142 _,
    "q53_llm_pipeline" -> q53 _,
    "q50_hash_sample" -> q50 _,
    "q65_stratified_sample" -> q65 _,
    "q68_decontamination" -> q68 _,
    "q41_salted_heavy_hitters" -> q41 _,
    "q174_countmin_heavy" -> q174 _,
    "q178_kmv_source_overlap" -> q178 _,
    "q180_kmv_distinct" -> q180 _,
    "q25_token_stats" -> q25 _,
    "q148_tokenizer_fertility" -> q148 _,
    "q26_quality_score" -> q26 _,
    "q27_langid" -> q27 _,
    "q28_fingerprint" -> q28 _,
    "q34_regex_tokens" -> q34 _)

  val oracles: Map[String, String] = Map(
    "q122_bigram_lm_xent" -> q122Sql,
    "q123_quality_calibration" -> q123Sql,
    "q125_zipf_spectrum" -> q125Sql,
    "q126_bpe_merge_pairs" -> q126Sql,
    "q167_bpe_merge_train" -> q167Sql,
    "q169_bpe_encode" -> q169Sql,
    "q128_signal_correlation" -> q128Sql,
    "q129_heaps_hapax" -> q129Sql,
    "q118_filter_cascade" -> q118Sql,
    "q107_lm_xent_score" -> q107Sql,
    "q135_dsir_weights" -> q135Sql,
    "q138_token_budget" -> q138Sql,
    "q142_length_ks_drift" -> q142Sql,
    "q53_llm_pipeline" -> q53Sql,
    "q50_hash_sample" -> q50Sql,
    "q65_stratified_sample" -> q65Sql,
    "q68_decontamination" -> q68Sql,
    "q41_salted_heavy_hitters" -> q41Sql,
    "q174_countmin_heavy" -> q174Sql,
    "q178_kmv_source_overlap" -> q178Sql,
    "q180_kmv_distinct" -> q180Sql,
    "q25_token_stats" -> q25Sql,
    "q148_tokenizer_fertility" -> q148Sql,
    "q26_quality_score" -> q26Sql,
    "q27_langid" -> q27Sql,
    "q28_fingerprint" -> q28Sql,
    "q34_regex_tokens" -> q34Sql)
}

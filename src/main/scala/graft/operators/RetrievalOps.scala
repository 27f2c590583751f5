package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-5 retrieval & lexical-model operators [EXT]: BM25-style
  * ranked retrieval over the corpus (the "find me training docs like
  * this query" primitive), FastSS deletion-neighborhood fuzzy joins
  * (entity resolution without a cartesian), distributed BPE tokenizer
  * training (corpus scan -> bounded word-count state -> iterative
  * distributed merges), and DSIR-style importance weighting (Xie et
  * al. 2023: reweight a raw corpus toward a target distribution by
  * hashed-feature likelihood ratios — here exact unigram ratios, the
  * n-gram-hash generalization being a column swap).
  *
  * Scale notes per query; shared themes with CurationOps/TrainingOps:
  * the heavy corpus is touched by map-only passes (the `token_tf`
  * codegen kernel — no occurrence-level explode), per-token statistics
  * ride ONE hash exchange (window-over-token or partial-combined
  * groupBy), candidate pairs come from bounded-fan-out equi-joins, and
  * global top-k is always `orderBy.limit` (TakeOrderedAndProject — a
  * per-partition heap + O(k) driver merge), never a single-partition
  * rank window.
  */
object RetrievalOps {
  import Tables._

  private val toksCte = Dedup.toksCteSql

  /** q159's literal trained merge table, ascending rank. WELL-FORMED:
    * every composite operand (th, an) is produced by an earlier rank,
    * the property that makes one ascending replace pass per merge the
    * canonical greedy encode. */
  private val bpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
    "an" -> "d", "e" -> "r", "o" -> "n", "r" -> "e")

  /** q146's verified ≤2-edit pair frame `(name_a, name_b, dist)` over
    * DISTINCT part names — FastSS deletion-neighborhood blocking +
    * levenshtein verify. Shared with q166's entity resolution so the
    * matcher and the clustering consume ONE pair construction. */
  private[operators] def fuzzyPairs(s: SparkSession, dir: String): DataFrame =
    fuzzyPairsFrom(s, distinctNames(s, dir))

  /** The checkpointed distinct part-name frame — built ONCE per query
    * even when both the matcher and the clustering consume it
    * (entityClusters passes it through, avoiding a second corpus scan
    * + checkpoint of identical data). */
  private def distinctNames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    part(s, dir).select($"p_name".as("nm")).distinct().localCheckpoint(true)
  }

  private def fuzzyPairsFrom(s: SparkSession, names: DataFrame): DataFrame = {
    import s.implicits._
    val variants = names
      .select($"nm", explode(expr(deletionVariantsSql("nm"))).as("v"))
    val cand = variants.as("a")
      .join(variants.as("b"), $"a.v" === $"b.v" && $"a.nm" < $"b.nm")
      .select($"a.nm".as("name_a"), $"b.nm".as("name_b"))
      .distinct()
    cand
      .withColumn("dist", levenshtein($"name_a", $"name_b"))
      .where($"dist" <= 2)
  }

  /** The resolved entity membership `(nm, cluster)` over distinct part
    * names: [[fuzzyPairs]] matching + q66 label propagation
    * (hash-labeled; singletons coalesce to their own id without ever
    * entering the iteration). Shared by q166 (census) and q167
    * (survivorship), so both read ONE clustering. */
  private def entityClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = distinctNames(s, dir)
    val pairs = fuzzyPairsFrom(s, names)
      .select(xxhash64($"name_a").as("ida"), xxhash64($"name_b").as("idb"))
    val comp = Dedup.componentsFromPairs(s, pairs)
      .select($"doc_id".as("id"), $"component".as("label"))
    names.withColumn("id", xxhash64($"nm"))
      .join(comp, Seq("id"), "left")
      .select($"nm", coalesce($"label", $"id").as("cluster"))
  }

  /** Oracle twin of [[entityClusters]], ending in `lab(nm, cluster)`
    * with raw-name labels — shared by q166 and q167. Must follow a
    * `WITH RECURSIVE` prefix. */
  private val entityClustersCteSql: String = s"""
        nms AS (SELECT DISTINCT p_name AS nm FROM part),
        prs AS (SELECT a.nm AS na, b.nm AS nb FROM nms a JOIN nms b
                ON a.nm < b.nm WHERE levenshtein(a.nm, b.nm) <= 2),
        edges AS (SELECT na AS src, nb AS dst FROM prs
                  UNION SELECT nb, na FROM prs),
        ${Dedup.closureCompCteSql},
        lab AS (SELECT nms.nm, COALESCE(c.lbl, nms.nm) AS cluster
                FROM nms LEFT JOIN compc c ON c.node = nms.nm)"""

  /** The q159 replace chain over a per-engine seed expression. The
    * CHAIN construction — not just the merge list — is single-sourced
    * here, because the self-delimiting invariant (each symbol wrapped
    * in its own spaces, two-space gaps) is what the canonical-encode
    * proof rests on: a delimiter edit on one engine must be a compile
    * change on both. */
  private def bpeChain(seed: String): String = bpeChainK(seed, bpeMerges.size)

  /** The chain truncated to the first `k` merges — q207's vocab-budget
    * dial (a BPE merge table's prefixes are themselves valid trained
    * tables, so the dial needs no retraining). */
  private def bpeChainK(seed: String, k: Int): String =
    bpeMerges.take(k).foldLeft(seed) {
      case (acc, (x, y)) => s"replace($acc, ' $x  $y ', ' $x$y ')"
    }

  /** The chain over DuckDB's spelling of the symbol string. */
  private val bpeDuckChain: String = bpeChain(
    "concat(' ', array_to_string(list_filter(string_split_regex(tok, ''), c -> c <> ''), '  '), ' ')")

  /** q148's oracle: the k = 8 BPE merge rounds UNROLLED as MATERIALIZED
    * CTE pairs (the q160/q162 fixed-round pattern) over the q159
    * self-delimited symbol string. Each round is (pair-count aggregate
    * over the vocab state) -> (1-row argmax, ties n DESC then lex) ->
    * (state update by ONE `replace`). The replace IS the greedy
    * left-to-right fold for a single fixed rule (l, r): within a round
    * a just-merged symbol `lr` can never serve as that round's `l` or
    * `r` again (that would need l = l||r, impossible for non-empty r),
    * so leftmost-non-overlapping replacement — which resumes scanning
    * AFTER each replacement, exactly matching ' a  a  a  a ' ->
    * ' aa  aa ' — coincides with the Spark-side `aggregate` fold. The
    * two-space delimiter invariant is preserved by construction: the
    * pattern consumes one boundary space per side and the replacement
    * restores both. */
  private val bpeTrainOracleSql: String = {
    val k = 8
    val rounds = (1 to k).map { r =>
      val prev = s"v${r - 1}"
      s"""
        p$r AS MATERIALIZED (
          SELECT l[i] AS lft, l[i+1] AS rgt, CAST(SUM(cnt) AS BIGINT) AS n
          FROM (SELECT string_split(trim(s), '  ') AS l, cnt FROM $prev) t,
               UNNEST(range(1, len(l))) AS u(i)
          GROUP BY 1, 2),
        m$r AS MATERIALIZED (SELECT CAST($r AS INT) AS step, lft, rgt, n
          FROM p$r ORDER BY n DESC, lft, rgt LIMIT 1),
        v$r AS MATERIALIZED (
          SELECT replace(s, ' ' || m$r.lft || '  ' || m$r.rgt || ' ',
                            ' ' || m$r.lft || m$r.rgt || ' ') AS s, cnt
          FROM $prev, m$r)"""
    }.mkString(",")
    val publish = (1 to k)
      .map(r => s"""SELECT step, lft AS "left", rgt AS "right", n AS pair_count FROM m$r""")
      .mkString("\n        UNION ALL ")
    s"""
        WITH $toksCte,
        vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM
                    (SELECT UNNEST(w) AS tok FROM toksc) u
                  WHERE len(tok) > 0 GROUP BY 1),
        v0 AS MATERIALIZED (SELECT
            concat(' ', array_to_string(list_filter(string_split_regex(tok, ''), c -> c <> ''), '  '), ' ') AS s,
            cnt FROM vocab),$rounds
        $publish
        ORDER BY step"""
  }

  // ---- BM25 constants (Robertson/Spärck Jones defaults) ------------
  // private[graft]: the streaming serve (StreamOps.bm25ServeStream)
  // scores with the SAME constants, single-sourced here.
  private[graft] val K1 = 1.2
  private[graft] val B = 0.75

  /** The q145 bag-of-words query — shared verbatim by q201's sparse
    * leg so the fusion audits the SAME retrieval the standalone query
    * publishes. */
  private val QueryTerms = Seq("window", "spark", "merge")

  /** `(doc_id, dl, tok, tf)` — ONE map-only corpus pass through the
    * `token_tf` codegen kernel (doc length rides along row-locally; no
    * occurrence-level explode). The single tf construction behind
    * q145's sparse scoring and q201's hashed-feature doc vectors. */
  private def docTf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.withToks(documents(s, dir))
      .select($"doc_id", size($"toks").as("dl"),
        explode(expr("token_tf(toks)")).as("kv"))
      .select($"doc_id", $"dl", $"kv.tok".as("tok"), $"kv.tf".as("tf"))
  }

  /** 1-row corpus-constant frame (n_docs, tot) — BIGINT sums, order
    * free; avgdl is derived downstream in ONE double division. */
  private def bm25Consts(s: SparkSession, dir: String): DataFrame =
    Dedup.withToks(documents(s, dir))
      .agg(count(lit(1)).as("n_docs"), sum(size(col("toks"))).as("tot"))

  /** BM25 per doc over a TERMS-FILTERED tf frame: df = COUNT OVER
    * (PARTITION BY tok) on the filtered frame (the only exchange
    * carries |terms| x |matching docs| rows), rational log-free idf,
    * per-term partials summed through DECIMAL(28,6) — order
    * insensitive, so map-side combine can't reorder float error.
    * Returns `(doc_id, n_terms, bm25)`. */
  private def bm25PerDoc(tfq: DataFrame, consts: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bc}
    val scored = tfq
      .withColumn("dfc", count(lit(1)).over(Window.partitionBy(col("tok"))))
      .crossJoin(bc(consts))
      .withColumn("avgdl", col("tot").cast(DoubleType) / col("n_docs"))
      .withColumn("part", round(
        ((col("n_docs") - col("dfc") + 0.5) / (col("dfc") + 0.5)) *
          (col("tf") * (K1 + 1.0)) /
          (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * (col("dl") / col("avgdl")))), 6))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("part").cast(DecimalType(28, 6))).cast(DoubleType).as("bm25"),
        count(lit(1)).as("n_terms"))
  }

  /** Deterministic rank over a ≤k-row frame WITHOUT a global window
    * (the lint forbids empty-PARTITION-BY WindowExec even on bounded
    * input): rank = 1 + |better rows|, a k² theta self-join — q134's
    * whitelisted cumulative-theta class. Shared by q201/q212. */
  private def rankBounded(top: DataFrame, score: String, as: String): DataFrame = {
    val b = top.select(col(score).as("s2"), col("doc_id").as("id2"))
    top.join(broadcast(b),
        col("s2") > col(score) ||
          (col("s2") === col(score) && col("id2") < col("doc_id")), "left")
      .groupBy(col("doc_id"))
      .agg((count(col("id2")) + 1).cast(IntegerType).as(as))
  }

  /** q201's hybrid retrieval before its cut: the BM25 leg (q145's
    * scoring over [[QueryTerms]]) and the hashed dense leg, each
    * bounded to its top-50 and ranked by [[rankBounded]], fused by
    * Reciprocal Rank Fusion (k = 60) over a full outer join on doc_id
    * into `(doc_id, r_sparse, r_dense, rrf)` — a doc missing from a
    * leg has a null rank there and gets nothing from it. Shared by
    * q201 and q216's retrieve stage; each caller takes its own top-k. */
  private def rrfFused(s: SparkSession, dir: String, tf: DataFrame): DataFrame = {
    import s.implicits._
    val sparseTop = bm25PerDoc(tf.where($"tok".isin(QueryTerms: _*)),
        bm25Consts(s, dir))
      .orderBy($"bm25".desc, $"doc_id").limit(50)
    val sp = rankBounded(sparseTop, "bm25", "r_sparse")
    val denseTop = denseScored(s, tf)
      .orderBy($"cos".desc, $"doc_id").limit(50)
    val dn = rankBounded(denseTop, "cos", "r_dense")
    sp.join(dn, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + $"r_sparse"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + $"r_dense"), lit(0.0)), 6))
  }

  /** The hashing-trick dense leg (q201's contract): every doc with a
    * nonzero dot against the hashed [[QueryTerms]] vector, scored by
    * 1e-6-rounded cosine — integer arithmetic until one sqrt+divide.
    * Returns the FULL scored frame `(doc_id, cos)`; callers take
    * their own top-k. Shared by q201 (fusion) and q212 (negatives). */
  private def hdim(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 1), 16, 10).cast(IntegerType)
  private def hsign(c: org.apache.spark.sql.Column) =
    when(conv(substring(md5(c), 9, 1), 16, 10).cast(IntegerType) % 2 === 0,
      lit(1L)).otherwise(lit(-1L))

  /** The hashed doc-vector frame `(doc_id, dim, wt)` behind
    * [[denseScored]] — ≤ 16 rows per doc BY CONSTRUCTION. Factored
    * out so q216 can compute candidate-pairwise cosines from the SAME
    * featurization that retrieved them. */
  private def docHashedVecs(tf: DataFrame): DataFrame =
    tf.groupBy(col("doc_id"), hdim(col("tok")).as("dim"))
      .agg(sum(hsign(col("tok")) * col("tf")).as("wt"))

  private def denseScored(s: SparkSession, tf: DataFrame): DataFrame = {
    import s.implicits._
    val dvec = docHashedVecs(tf)
    val qvec = QueryTerms.toDF("tok")
      .select(hdim($"tok").as("dim"), hsign($"tok").as("sgn"))
      .groupBy($"dim").agg(sum($"sgn").as("qwt"))
    val qn = qvec.agg(sum($"qwt" * $"qwt").as("qn2"))
    val dagg = dvec.join(broadcast(qvec), Seq("dim"), "left")
      .groupBy($"doc_id")
      .agg(sum($"wt" * coalesce($"qwt", lit(0L))).as("dot"),
        sum($"wt" * $"wt").as("dn2"))
    dagg.where($"dot" =!= 0L)
      .crossJoin(broadcast(qn))
      .withColumn("cos", round($"dot".cast(DoubleType) /
        sqrt($"dn2".cast(DoubleType) * $"qn2"), 6))
      .select($"doc_id", $"cos")
  }

  /** Oracle CTE chain for [[denseScored]], ending in `dsc(doc_id,
    * cos)`; needs `toksc` in scope. Shared by the q201/q212 oracles. */
  private val denseScoredCteSql: String = s"""
        tfall AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
                  FROM (SELECT doc_id, UNNEST(w) AS tok FROM toksc) u
                  WHERE len(tok) > 0 GROUP BY 1, 2),
        dvec AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 1))::INT AS dim,
                   CAST(SUM(CASE WHEN ('0x' || substr(md5(tok), 9, 1))::INT % 2 = 0
                                 THEN tf ELSE -tf END) AS BIGINT) AS wt
                 FROM tfall GROUP BY 1, 2),
        qterms AS (SELECT tok FROM (VALUES ${QueryTerms.map(t => s"('$t')").mkString(", ")}) t(tok)),
        qvec AS (SELECT ('0x' || substr(md5(tok), 1, 1))::INT AS dim,
                   CAST(SUM(CASE WHEN ('0x' || substr(md5(tok), 9, 1))::INT % 2 = 0
                                 THEN 1 ELSE -1 END) AS BIGINT) AS qwt
                 FROM qterms GROUP BY 1),
        qn AS (SELECT CAST(SUM(qwt * qwt) AS BIGINT) AS qn2 FROM qvec),
        dagg AS (SELECT d.doc_id,
                   CAST(SUM(d.wt * COALESCE(q.qwt, 0)) AS BIGINT) AS dot,
                   CAST(SUM(d.wt * d.wt) AS BIGINT) AS dn2
                 FROM dvec d LEFT JOIN qvec q USING (dim) GROUP BY 1),
        dsc AS (SELECT doc_id, ROUND(CAST(dot AS DOUBLE) /
                   sqrt(CAST(dn2 AS DOUBLE) * qn2), 6) AS cos
                FROM dagg CROSS JOIN qn WHERE dot <> 0)"""

  /** Oracle twin of [[docTf]]+[[bm25Consts]]+[[bm25PerDoc]]: CTE chain
    * ending in `${p}bm(doc_id, n_terms, bm25)` over a term predicate.
    * Must follow `$toksCte,`. The `p` prefix namespaces the internal
    * CTEs so two scoring passes can share one WITH chain (q202). */
  private def bm25CteSql(termPred: String, p: String = ""): String = s"""
        ${p}consts AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                          CAST(SUM(len(w)) AS BIGINT) AS tot FROM toksc),
        ${p}tf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM
                 (SELECT doc_id, len(w) AS dl, UNNEST(w) AS tok FROM toksc) u
               WHERE $termPred GROUP BY 1, 2, 3),
        ${p}scored AS (SELECT doc_id,
            ROUND(((n_docs - dfc + 0.5) / (dfc + 0.5)) * (tf * ${K1 + 1.0}) /
              (tf + $K1 * ((1.0 - $B) + $B * (dl / (CAST(tot AS DOUBLE) / n_docs)))), 6) AS part
          FROM (SELECT doc_id, dl, tf,
                  CAST(COUNT(*) OVER (PARTITION BY tok) AS BIGINT) AS dfc
                FROM ${p}tf) f CROSS JOIN ${p}consts),
        ${p}bm AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
                 CAST(SUM(CAST(part AS DECIMAL(28,6))) AS DOUBLE) AS bm25
               FROM ${p}scored GROUP BY doc_id)"""

  /** Hard cap on the string length the FastSS neighborhood expands.
    * The D<=2 fan-out is 1 + L + C(L,2) = O(L^2) — fine for the 7-12
    * char names it was built for (~79 variants), but a stray 1 KB
    * string would emit ~500k rows. Capping L at 64 bounds the fan-out
    * at 2,081 variants per distinct string BY CONSTRUCTION, for any
    * input. */
  private[operators] val FastSsMaxLen = 64

  /** The deletion neighborhood D<=2(nm): nm itself, every 1-char
    * deletion, every 2-char deletion. Single source of truth for the
    * q146 block key. Guards keep `sequence` from DESCENDING on short
    * strings (the gramArraySql lesson).
    *
    * Strings longer than `maxLen` are TRUNCATED to their first
    * `maxLen` chars before expansion (identity for shorter strings,
    * so the exact path is untouched). Recall contract: for names
    * <= maxLen the FastSS theorem is exact — any two strings within
    * 2 edits share a variant. For longer names the block key is the
    * length-64 prefix: pairs whose edits all lie beyond the prefix
    * share the exact prefix key and are still found; pairs with at
    * most one insert/delete inside the prefix keep prefix edit
    * distance <= 2 (one edit + one boundary shift) and are still
    * found; only pairs with >= 2 indels inside the first 64 chars of
    * a > 64-char name can slip to prefix distance 3-4 and be missed.
    * The final levenshtein verify always runs on the FULL strings, so
    * precision is exact regardless. */
  private[operators] def deletionVariantsSql(col: String,
                                             maxLen: Int = FastSsMaxLen): String = {
    val c = s"substring($col, 1, $maxLen)"
    s"""
    array_distinct(concat(
      array($c),
      CASE WHEN length($c) >= 1 THEN
        transform(sequence(1, length($c)), i ->
          concat(substring($c, 1, i - 1), substring($c, i + 1, length($c))))
      ELSE CAST(array() AS ARRAY<STRING>) END,
      CASE WHEN length($c) >= 2 THEN
        flatten(transform(sequence(1, length($c) - 1), i ->
          transform(sequence(i + 1, length($c)), j ->
            concat(substring($c, 1, i - 1),
                   substring($c, i + 1, j - i - 1),
                   substring($c, j + 1, length($c))))))
      ELSE CAST(array() AS ARRAY<STRING>) END))"""
  }

  val queries: Vector[Q] = Vector(

    // ---- BM25 ranked retrieval (q145) --------------------------------
    // Okapi BM25 over the corpus for a fixed bag-of-words query, with
    // the RATIONAL idf (n - df + 0.5)/(df + 0.5) — the same documented
    // log-free variant as q132's idf: ln() is the one operation whose
    // last bit differs between engines, and dropping the (monotone) ln
    // changes scores but not semantics. Plan: ONE map-only corpus pass
    // through the `token_tf` codegen kernel (doc length = size(toks)
    // rides along row-locally — no second window), filter to the query
    // terms BEFORE the df window so the only exchange carries
    // |terms| x |matching docs| rows, df = COUNT OVER (PARTITION BY
    // tok) on that filtered frame (a term's df = its row count there),
    // and the per-doc score sums per-term partials through
    // DECIMAL(28,6) — order-insensitive, so the map-side combine can't
    // reorder float error. Global top-10 is orderBy.limit ->
    // TakeOrderedAndProject, never a rank window. At 100 TB: one scan,
    // one term-bounded exchange, one O(k) result.
    Q("q145_bm25_topk",
      (s, dir) => {
        import s.implicits._
        val tfq = docTf(s, dir).where($"tok".isin(QueryTerms: _*))
        bm25PerDoc(tfq, bm25Consts(s, dir))
          .orderBy($"bm25".desc, $"doc_id")
          .limit(10)
          .select($"doc_id", $"n_terms", $"bm25")
      },
      Some(s"""
        WITH $toksCte,
        ${bm25CteSql(s"tok IN (${QueryTerms.map(t => s"'$t'").mkString(", ")})")}
        SELECT doc_id, n_terms, bm25
        FROM bm ORDER BY bm25 DESC, doc_id LIMIT 10""")),

    // ---- FastSS fuzzy join (q146) ------------------------------------
    // All distinct part-name pairs within edit distance <= 2 — entity
    // resolution's core join, done WITHOUT a cartesian: block on the
    // FastSS deletion neighborhood (Bocek et al. 2007): every name
    // emits its <= 2-char-deletion variants (fan-out 1 + L + C(L,2) —
    // bounded by construction, ~70 for L = 11), and any two strings
    // within k edits share a <= k-deletion variant (each substitution
    // deletes one char from BOTH sides, each insert/delete from ONE),
    // so the variant equi-join is a LOSSLESS candidate generator —
    // recall is a theorem, not a recall@k. Verify = one levenshtein
    // per DISTINCT candidate pair (integer DP, bit-identical across
    // engines). The heavy table collapses to distinct names FIRST
    // (names << rows at 100 TB); block sizes are bounded by near-dup
    // density, never by vocabulary shape. The ORACLE is the quadratic
    // levenshtein join — a different strategy, so the hash match
    // proves the neighborhood theorem on real data. ORACLE
    // PRECONDITION: the oracle is uncapped while the engine blocks on
    // the [[FastSsMaxLen]]-char prefix, so the gate compares the same
    // algorithm only while every gate name is <= that cap —
    // FastSsGuardSpec pins max(length(p_name)) <= 64 on all three gate
    // corpora (q166/q167 inherit the same precondition via
    // entityClusters).
    Q("q146_fuzzy_pairs",
      (s, dir) => fuzzyPairs(s, dir).orderBy(col("name_a"), col("name_b")),
      Some("""
        WITH n AS (SELECT DISTINCT p_name AS nm FROM part)
        SELECT a.nm AS name_a, b.nm AS name_b,
          CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
        FROM n a JOIN n b ON a.nm < b.nm
        WHERE levenshtein(a.nm, b.nm) <= 2
        ORDER BY name_a, name_b""")),

    // ---- BPE pair statistics (q147) ----------------------------------
    // Iteration 0 of BPE tokenizer training: the corpus-weighted count
    // of every adjacent character pair — the statistic the first merge
    // maximizes. Two-level aggregation keeps the corpus pass map-only:
    // per-doc (tok, tf) pairs from the `token_tf` codegen kernel (no
    // occurrence-level explode), partial-combined groupBy to corpus
    // word counts (the exchange carries <= |vocab| rows per partition),
    // then the char-bigram explode runs on the VOCAB frame — fan-out
    // L-1 per distinct word, independent of corpus size. Top-20 is
    // orderBy.limit. The iterative merge LOOP is q148; this published
    // frame is its oracle-checked first rung.
    Q("q147_bpe_pairs",
      (s, dir) => {
        import s.implicits._
        val vocab = Dedup.withToks(documents(s, dir))
          .select(explode(expr("token_tf(toks)")).as("kv"))
          .groupBy($"kv.tok".as("tok")).agg(sum($"kv.tf").as("cnt"))
        vocab
          .select(explode(expr(
            """CASE WHEN length(tok) >= 2
               THEN transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))
               ELSE CAST(array() AS ARRAY<STRING>) END""")).as("pair"), $"cnt")
          .groupBy($"pair").agg(sum($"cnt").as("n"))
          .orderBy($"n".desc, $"pair")
          .limit(20)
      },
      Some(s"""
        WITH $toksCte,
        vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM
                    (SELECT UNNEST(w) AS tok FROM toksc) u
                  WHERE len(tok) > 0 GROUP BY 1),
        pairs AS (SELECT substr(tok, i, 2) AS pair, cnt
                  FROM vocab, UNNEST(range(1, len(tok))) AS t(i))
        SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n
        FROM pairs GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""")),

    // ---- Distributed BPE merge training (q148) -----------------------
    // The full merge loop on top of q147's statistic: k = 8 rounds of
    // (count adjacent symbol pairs -> take the argmax -> apply the
    // merge greedily left-to-right), published as the ordered merge
    // table (step, left, right, pair_count) — exactly what a tokenizer
    // ships. The WORD-COUNT frame is the loop state and it STAYS
    // DISTRIBUTED: each round is one partial-combined pair-count agg
    // over the vocab frame plus one O(1)-row argmax collect (rule-2
    // bounded — never the frame itself), and the merge application is
    // a row-local left-fold (`aggregate` HOF — interpreted eval is
    // fine HERE because it runs on the vocab frame, not the corpus;
    // the corpus is touched exactly once, by the same map-only
    // token_tf pass as q147). localCheckpoint per round keeps the
    // lineage flat (the q140/q142 iteration pattern). Greedy-left
    // semantics under self-merge ("aaa" + (a,a) -> [aa, a]) are pinned
    // by RetrievalOpsSpec against an independent in-memory reference.
    // ORACLE (new r7 — closes the registry's last rows-only row): the
    // fixed k = 8 rounds unroll as MATERIALIZED CTEs ([[bpeTrainOracleSql]],
    // the q160/q162 pattern), with the state update spelled as the
    // q159 self-delimited-string `replace` — provably the same greedy
    // fold per round. Data-dependent iteration is fine for an oracle
    // precisely because the ROUND COUNT is fixed by contract; only
    // the argmaxes are data-dependent, and each is a deterministic
    // 1-row CTE.
    Q("q148_bpe_train",
      (s, dir) => {
        import s.implicits._
        var vocab = Dedup.withToks(documents(s, dir))
          .select(explode(expr("token_tf(toks)")).as("kv"))
          .groupBy($"kv.tok".as("tok")).agg(sum($"kv.tf").as("cnt"))
          .select(expr("transform(sequence(1, length(tok)), i -> substring(tok, i, 1))")
            .as("syms"), $"cnt")
          .localCheckpoint(true)
        val merges = Vector.newBuilder[(Int, String, String, Long)]
        var step = 1
        var exhausted = false
        while (step <= 8 && !exhausted) {
          val top = vocab.select(explode(expr(
              """CASE WHEN size(syms) >= 2
                 THEN transform(sequence(1, size(syms) - 1), i ->
                   struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))
                 ELSE CAST(array() AS ARRAY<STRUCT<l: STRING, r: STRING>>) END"""))
              .as("p"), $"cnt")
            .groupBy($"p.l".as("l"), $"p.r".as("r")).agg(sum($"cnt").as("n"))
            .orderBy($"n".desc, $"l", $"r")
            .limit(1).collect()
          if (top.isEmpty) exhausted = true
          else {
            val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
            merges += ((step, l, r, n))
            // greedy left-to-right merge: fold each symbol onto the
            // accumulator; a just-merged symbol can itself merge with
            // the NEXT pair occurrence but never re-split
            vocab = vocab.withColumn("syms",
                aggregate($"syms", array().cast(ArrayType(StringType)),
                  (acc, x) => when(
                    size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
                    concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
                    .otherwise(concat(acc, array(x)))))
              .localCheckpoint(true)
            step += 1
          }
        }
        s.createDataFrame(merges.result()).toDF("step", "left", "right", "pair_count")
          .orderBy($"step")
      },
      Some(bpeTrainOracleSql)),

    // ---- DSIR importance weighting (q149) ----------------------------
    // Data Selection via Importance Resampling (Xie et al., NeurIPS
    // 2023): score every raw doc by how target-like its unigram
    // distribution is — here the exact per-token likelihood ratio
    // p_target(tok)/p_corpus(tok) (the paper's hashed-n-gram features
    // are a column swap on the same plan). Log-free on purpose: the
    // per-doc statistic is the tf-weighted MEAN of round(ratio, 6)
    // rather than the sum of logs — monotone-equivalent reweighting
    // signal, bit-identical across engines. Plan: the same single
    // map-only token_tf pass as q82, BOTH per-token stats (corpus
    // count + target count) ride ONE window exchange over tok
    // (conditional sums — no second groupBy, no vocab broadcast:
    // SCALE_DESIGN rule 2 forbids counting on a vocab-sized broadcast
    // at web scale), ratios multiply as (cnt_t/cnt_c)*(tot_c/tot_t) —
    // two bounded doubles, no BIGINT product overflow at 100 TB — and
    // the per-doc mean sums through DECIMAL(28,6). Top-20 by
    // orderBy.limit.
    Q("q149_importance_weights",
      (s, dir) => {
        import s.implicits._
        val docs = documents(s, dir)
        val tf = Dedup.withToks(docs)
          .select($"doc_id", $"source", ($"lang" === "en").as("is_tgt"),
            explode(expr("token_tf(toks)")).as("kv"))
          .select($"doc_id", $"source", $"is_tgt",
            $"kv.tok".as("tok"), $"kv.tf".as("tf"))
        val wTok = Window.partitionBy($"tok")
        val consts = tf.agg(
          sum($"tf").as("tot_c"),
          sum(when($"is_tgt", $"tf").otherwise(0L)).as("tot_t"))
        val scored = tf
          .withColumn("cnt_c", sum($"tf").over(wTok))
          .withColumn("cnt_t", sum(when($"is_tgt", $"tf").otherwise(0L)).over(wTok))
          .crossJoin(broadcast(consts))
          .withColumn("ratio", round(
            ($"cnt_t".cast(DoubleType) / $"cnt_c") *
              ($"tot_c".cast(DoubleType) / $"tot_t"), 6))
        scored.groupBy($"doc_id", $"source")
          .agg((sum(($"ratio" * $"tf").cast(DecimalType(28, 6))).cast(DoubleType)
            / sum($"tf")).as("importance"))
          .withColumn("importance", round($"importance", 6))
          .orderBy($"importance".desc, $"doc_id")
          .limit(20)
          .select($"doc_id", $"source", $"importance")
      },
      Some(s"""
        WITH $toksCte,
        docs2 AS (SELECT t.doc_id, t.source, d.lang = 'en' AS is_tgt, t.w
                  FROM toksc t JOIN documents d USING (doc_id)),
        tf AS (SELECT doc_id, source, is_tgt, tok, CAST(COUNT(*) AS BIGINT) AS tf
               FROM (SELECT doc_id, source, is_tgt, UNNEST(w) AS tok FROM docs2) u
               WHERE len(tok) > 0 GROUP BY 1, 2, 3, 4),
        st AS (SELECT doc_id, source, tok, tf,
                 CAST(SUM(tf) OVER (PARTITION BY tok) AS BIGINT) AS cnt_c,
                 CAST(SUM(CASE WHEN is_tgt THEN tf ELSE 0 END) OVER (PARTITION BY tok) AS BIGINT) AS cnt_t
               FROM tf),
        consts AS (SELECT CAST(SUM(tf) AS BIGINT) AS tot_c,
                     CAST(SUM(CASE WHEN is_tgt THEN tf ELSE 0 END) AS BIGINT) AS tot_t
                   FROM tf),
        scored AS (SELECT doc_id, source, tf,
                     ROUND((CAST(cnt_t AS DOUBLE) / cnt_c) *
                           (CAST(tot_c AS DOUBLE) / tot_t), 6) AS ratio
                   FROM st CROSS JOIN consts)
        SELECT doc_id, source,
          ROUND(CAST(SUM(CAST(ratio * tf AS DECIMAL(28,6))) AS DOUBLE) / SUM(tf), 6)
            AS importance
        FROM scored GROUP BY 1, 2
        ORDER BY importance DESC, doc_id LIMIT 20""")),

    // ---- longest repeated token sequence (q150) ----------------------
    // Per doc: the length of the longest token sequence occurring >= 2
    // times (overlaps allowed) — the within-doc form of the repeated-
    // substring signal substring-level dedup is built on (Lee et al.
    // 2022 run suffix arrays for the cross-doc form). The suffix-array
    // theorem makes it one sort: the longest repeat = the max LCP of
    // LEXICOGRAPHICALLY ADJACENT suffixes, so the plan is suffix
    // explode -> per-doc sorted window -> lag + row-local LCP -> max.
    // SCALE: suffixes are CAPPED at 64 tokens — the cap bounds the
    // exploded frame to 64x the token count BY CONSTRUCTION (uncapped,
    // the suffix frame is quadratic in doc length; 64 caps the
    // reportable repeat, which the contract states). The suffix
    // explode rides the gramArraySql let-binding so split() runs once
    // per row, not once per suffix (the q116 CollapseProject lesson).
    // The window partitions by doc_id — bounded by doc length, never
    // corpus-shaped. The ORACLE computes the same LCP by a correlated
    // first-mismatch scan — a different evaluation strategy, so the
    // hash match checks the zip_with/array_position formulation.
    Q("q150_longest_repeat",
      (s, dir) => {
        import s.implicits._
        val cap = 64
        // r14 (guide §2.4/§2.6, executed metrics in plans/r14): the
        // suffix explode rode the single-row-group scan — ONE task
        // built all 270k suffix rows and shuffle-wrote the 150 MB
        // exploded frame for the window. Hash-repartitioning the DOCS
        // (5000 rows, ~1.5 MB) by doc_id before tokenize+explode (a)
        // spreads the explode across the cores and (b) already
        // satisfies the window's ClusteredDistribution(doc_id), so
        // the exploded frame is never exchanged at all (explode
        // before a shuffle multiplies it — guide §3.3). Deterministic
        // key, explicit count so AQE cannot coalesce it back.
        val docs = documents(s, dir)
          .repartition(s.sparkContext.defaultParallelism, $"doc_id")
        val sfx = Dedup.withToks(docs)
          .select($"doc_id", explode(expr(
            s"""transform(array(toks), __tk ->
                  transform(sequence(1, size(__tk)), i -> slice(__tk, i, $cap)))[0]"""))
            .as("sfx"))
        val w = Window.partitionBy($"doc_id").orderBy($"sfx")
        val prev = lag($"sfx", 1).over(w)
        val mask = zip_with(col("prev"), $"sfx",
          (x, y) => coalesce(x === y, lit(false)))
        val pos = array_position(mask, false)
        sfx.withColumn("prev", prev)
          .withColumn("l",
            when($"prev".isNull, lit(0L)).otherwise(
              when(pos === 0, least(size($"prev"), size($"sfx")).cast(LongType))
                .otherwise(pos - 1)))
          .groupBy($"doc_id")
          .agg(max($"l").cast(IntegerType).as("longest_repeat"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH $toksCte,
        sfx AS (SELECT doc_id, w[i:i+63] AS sfx
                FROM toksc, UNNEST(range(1, len(w) + 1)) AS t(i)),
        lc AS (SELECT doc_id, sfx,
                 lag(sfx) OVER (PARTITION BY doc_id ORDER BY sfx) AS prev
               FROM sfx),
        lcp AS (SELECT doc_id,
                  CASE WHEN prev IS NULL THEN 0
                       ELSE coalesce(
                         (SELECT min(i) - 1
                          FROM UNNEST(range(1, least(len(prev), len(sfx)) + 1)) u(i)
                          WHERE prev[i] IS DISTINCT FROM sfx[i]),
                         least(len(prev), len(sfx)))
                  END AS l
                FROM lc)
        SELECT doc_id, CAST(MAX(l) AS INT) AS longest_repeat
        FROM lcp GROUP BY doc_id ORDER BY doc_id""")),

    // ---- BPE tokenizer APPLICATION (q159) ----------------------------
    // The other half of the q147/q148 tokenizer story: ENCODE the
    // corpus with a trained merge table. Encoding is "apply merges in
    // rank order, leftmost non-overlapping" — for a WELL-FORMED merge
    // table (every composite operand produced by an earlier merge,
    // which BPE training guarantees and this literal table satisfies:
    // th<the, an<and) one ascending pass per merge is exactly the
    // canonical greedy encode, so the whole tokenizer is a chain of
    // codegen'd string `replace`s, no UDF and no loop. Symbols are
    // self-delimited (' sym ' with two-space gaps) so a pair pattern
    // ' x  y ' can neither match inside a longer symbol ('h e' inside
    // 'th e') nor consume a neighbor's boundary space (' a  a  a  a '
    // merges to BOTH ' aa ' pairs in one scan).
    //
    // Scale: the classic word-cache shape — each DISTINCT (source,
    // word) is encoded ONCE (HF tokenizers' cache, as dataflow): the
    // token stream collapses in a partial-combined (source, word)
    // aggregate BEFORE the replace chain runs, so encode cost is
    // vocab-scale, not token-scale; the final per-source rollup is a
    // second partial-combined aggregate over vocab-scale rows. Both
    // engines run the IDENTICAL chain (generated from one merge list,
    // spelled per engine), so tokenization cannot diverge.
    Q("q159_bpe_encode",
      (s, dir) => {
        import s.implicits._
        val chain = bpeChain(
          "concat(' ', array_join(filter(split(tok, ''), c -> c <> ''), '  '), ' ')")
        val wc = Dedup.withToks(documents(s, dir))
          .select($"source", explode($"toks").as("tok"))
          .filter(length($"tok") > 0)
          .groupBy($"source", $"tok").agg(count(lit(1)).as("cnt"))
        wc.withColumn("nsym", size(split(trim(expr(chain)), "  ")).cast(LongType))
          .groupBy($"source")
          .agg(sum($"cnt").as("n_words"),
            sum($"cnt" * length($"tok")).as("n_chars"),
            sum($"cnt" * $"nsym").as("bpe_tokens"),
            round(sum($"cnt" * length($"tok")).cast(DoubleType) /
              sum($"cnt" * $"nsym"), 6).as("chars_per_token"))
          .orderBy($"source")
      },
      Some(s"""
        WITH $toksCte,
        tx AS (SELECT source, unnest(w) AS tok FROM toksc),
        wc AS (SELECT source, tok, COUNT(*) AS cnt
               FROM tx WHERE len(tok) > 0 GROUP BY source, tok),
        enc AS (SELECT source, tok, cnt,
                  len(string_split(trim($bpeDuckChain), '  ')) AS nsym
                FROM wc)
        SELECT source,
          CAST(SUM(cnt) AS BIGINT) AS n_words,
          CAST(SUM(cnt * len(tok)) AS BIGINT) AS n_chars,
          CAST(SUM(cnt * nsym) AS BIGINT) AS bpe_tokens,
          ROUND(CAST(SUM(cnt * len(tok)) AS DOUBLE) / SUM(cnt * nsym), 6)
            AS chars_per_token
        FROM enc GROUP BY source ORDER BY source""")),

    // ---- end-to-end entity resolution (q166) -------------------------
    // The full ER pipeline over the part-name space: blocking +
    // matching (q146's shared fuzzyPairs — FastSS neighborhood,
    // levenshtein verify), CLUSTERING (q66's label-propagation over
    // the match graph — transitive: a~b~c is one entity even when
    // dist(a,c) > 2), and CANONICALIZATION (per cluster: the
    // lexicographically smallest member name, its distinct-name count
    // and its total part-row mass). This is q79's keep-one-per-cluster
    // discipline applied to the entity space instead of the document
    // space.
    //
    // Internals vs publication: propagation labels are xxhash64(name)
    // (fixed-width exchanges — names never ride the iteration), but
    // the PUBLISHED cluster identity is re-derived as MIN(name) within
    // the cluster, so the output is label-scheme-independent and the
    // DuckDB oracle (which propagates over raw names) must agree
    // unless memberships differ — a 2^-64 hash collision merges
    // clusters and fails the gate LOUDLY, the established contract.
    // Singleton names never enter the propagation at all (left join +
    // coalesce to own id): the iteration runs on the match graph,
    // which is dup-density-scale, not name-scale.
    Q("q166_entity_resolution",
      (s, dir) => {
        import s.implicits._
        val labeled = entityClusters(s, dir)
        val clusters = labeled.groupBy($"cluster")
          .agg(min($"nm").as("canon_name"), count(lit(1)).as("n_names"))
        val mass = part(s, dir).groupBy($"p_name".as("nm"))
          .agg(count(lit(1)).as("np"))
          .join(labeled, "nm")
          .groupBy($"cluster").agg(sum($"np").as("n_parts"))
        clusters.join(mass, "cluster")
          .select($"canon_name", $"n_names", $"n_parts")
          .orderBy($"canon_name")
      },
      Some(s"""
        WITH RECURSIVE $entityClustersCteSql,
        agg AS (SELECT cluster, MIN(nm) AS canon_name,
                  CAST(COUNT(*) AS BIGINT) AS n_names
                FROM lab GROUP BY cluster),
        counts AS (SELECT p_name AS nm, COUNT(*) AS np FROM part GROUP BY 1),
        mass AS (SELECT l.cluster, CAST(SUM(c.np) AS BIGINT) AS n_parts
                 FROM lab l JOIN counts c ON c.nm = l.nm GROUP BY l.cluster)
        SELECT a.canon_name, a.n_names, m.n_parts
        FROM agg a JOIN mass m USING (cluster)
        ORDER BY canon_name""")),

    // ---- golden-record survivorship (q167) ---------------------------
    // Master-data-management's final step over q166's clusters: ONE
    // golden record per resolved entity, each attribute elected by an
    // explicit survivorship rule — canonical name = lexicographic min
    // member; brand = MAJORITY vote over the cluster's part rows
    // (ties -> lexicographically smallest brand: a struct-argmax over
    // (count, rev(brand)) per the q157 determinism pattern, spelled
    // as (count, -?) via a second aggregate because strings don't
    // negate — here via min-brand-among-max-count); price = the
    // cluster MIN (the conservative rule), published as INTEGER
    // CENTS — round(p*100) per row, then MIN; round is monotone so
    // this is exactly the cents of the min price. r6's one red driver
    // cell was this query's DECIMAL(12,2)-from-double cast diverging
    // under the driver's oracle environment while judge-verified
    // cell-exact locally 5×; integer-scaling (the q103/q126/q135
    // discipline) removes the representation hazard CLASS instead of
    // chasing the instance. Size span published so a consumer sees
    // the conflict width the election hid. Every rule is
    // deterministic and stated — survivorship that can't say WHY a
    // value won is how silent data corruption ships. The brand
    // election is additionally pinned engine-independently by a
    // dual-implementation spec (RetrievalOpsSpec: plain-Scala
    // union-find + vote count over the raw rows vs this plan).
    //
    // Scale: membership comes from the shared entityClusters frame
    // (computed once, the match-graph contract); part rows join on
    // name (AQE decides — both sides corpus-derived), then ONE
    // cluster-keyed aggregate; the brand election is a (cluster,
    // brand) count + argmax, two partial-combined exchanges bounded
    // by clusters × brands.
    Q("q167_golden_record",
      (s, dir) => {
        import s.implicits._
        val labeled = entityClusters(s, dir).localCheckpoint(false)
        val rows = part(s, dir).select($"p_name".as("nm"), $"p_brand",
            $"p_size", $"p_retailprice")
          .join(labeled, "nm")
        val brandVotes = rows.groupBy($"cluster", $"p_brand")
          .agg(count(lit(1)).as("bc"))
        // majority with smallest-brand ties: max count first, then the
        // MIN brand among rows achieving it — two aggregates, both
        // partial-combined, no negated-string trickery
        val brand = brandVotes
          .groupBy($"cluster").agg(max($"bc").as("mbc"))
          .join(brandVotes, Seq("cluster"))
          .filter($"bc" === $"mbc")
          .groupBy($"cluster").agg(min($"p_brand").as("brand"))
        val attrs = rows.groupBy($"cluster").agg(
          min($"nm").as("canon_name"),
          count(lit(1)).as("n_rows"),
          min(round($"p_retailprice" * 100).cast(LongType)).as("min_price_cents"),
          min($"p_size").as("size_min"),
          max($"p_size").as("size_max"))
        attrs.join(brand, "cluster")
          .select($"canon_name", $"n_rows", $"brand",
            $"min_price_cents", $"size_min", $"size_max")
          .orderBy($"canon_name")
      },
      Some(s"""
        WITH RECURSIVE $entityClustersCteSql,
        rows_ AS (SELECT l.cluster, p.p_name AS nm, p.p_brand, p.p_size,
                    p.p_retailprice
                  FROM part p JOIN lab l ON l.nm = p.p_name),
        votes AS (SELECT cluster, p_brand, COUNT(*) AS bc
                  FROM rows_ GROUP BY cluster, p_brand),
        mv AS (SELECT cluster, MAX(bc) AS mbc FROM votes GROUP BY cluster),
        brand AS (SELECT v.cluster, MIN(v.p_brand) AS brand
                  FROM votes v JOIN mv ON mv.cluster = v.cluster AND v.bc = mv.mbc
                  GROUP BY v.cluster),
        attrs AS (SELECT cluster, MIN(nm) AS canon_name,
                    CAST(COUNT(*) AS BIGINT) AS n_rows,
                    CAST(MIN(CAST(ROUND(p_retailprice * 100) AS BIGINT)) AS BIGINT)
                      AS min_price_cents,
                    CAST(MIN(p_size) AS INT) AS size_min,
                    CAST(MAX(p_size) AS INT) AS size_max
                  FROM rows_ GROUP BY cluster)
        SELECT a.canon_name, a.n_rows, b.brand,
          a.min_price_cents, a.size_min, a.size_max
        FROM attrs a JOIN brand b USING (cluster)
        ORDER BY canon_name""")),

    // ---- tokenizer fertility by language (q182, new r7) --------------
    // The model-card fairness metric for a trained tokenizer: FERTILITY
    // (BPE symbols emitted per word) and the single-token word rate,
    // per LANGUAGE. A tokenizer trained on English-heavy data encodes
    // other languages at higher fertility — more sequence positions
    // per sentence for the same content — which silently taxes both
    // training cost and effective context length for those languages;
    // this is the table that makes the tax visible before a vocab is
    // frozen. Uses the q159 trained merge table and THE SAME
    // [[bpeChain]] construction (single-sourced — a tokenizer change
    // cannot diverge the audit from the encoder).
    //
    // Scale: the q159 word-cache shape re-keyed by language — each
    // DISTINCT (lang, word) is encoded ONCE, so the replace chain runs
    // at vocab scale, not token scale; one partial-combined (lang,
    // word) aggregate collapses the corpus, one ≤|langs|-key aggregate
    // publishes. Both ratios divide BIGINTs cast to double and round
    // to 6, the engine-exact form.
    Q("q182_tokenizer_fertility",
      (s, dir) => {
        import s.implicits._
        val chain = bpeChain(
          "concat(' ', array_join(filter(split(tok, ''), c -> c <> ''), '  '), ' ')")
        val wc = Dedup.withToks(documents(s, dir))
          .select($"lang", explode($"toks").as("tok"))
          .filter(length($"tok") > 0)
          .groupBy($"lang", $"tok").agg(count(lit(1)).as("cnt"))
        wc.withColumn("nsym", size(split(trim(expr(chain)), "  ")).cast(LongType))
          .groupBy($"lang")
          .agg(sum($"cnt").as("n_words"),
            sum($"cnt" * $"nsym").as("bpe_tokens"),
            round(sum($"cnt" * $"nsym").cast(DoubleType) / sum($"cnt"), 6)
              .as("fertility"),
            round(sum(when($"nsym" === 1L, $"cnt").otherwise(0L))
              .cast(DoubleType) / sum($"cnt"), 6).as("single_token_frac"))
          .orderBy($"lang")
      },
      Some(s"""
        WITH tl AS (SELECT lang,
                 unnest(string_split_regex(lower(text), '\\W+')) AS tok
               FROM documents),
        wc AS (SELECT lang, tok, COUNT(*) AS cnt
               FROM tl WHERE len(tok) > 0 GROUP BY lang, tok),
        enc AS (SELECT lang, cnt,
                  len(string_split(trim($bpeDuckChain), '  ')) AS nsym
                FROM wc)
        SELECT lang,
          CAST(SUM(cnt) AS BIGINT) AS n_words,
          CAST(SUM(cnt * nsym) AS BIGINT) AS bpe_tokens,
          ROUND(CAST(SUM(cnt * nsym) AS DOUBLE) / SUM(cnt), 6) AS fertility,
          ROUND(CAST(SUM(CASE WHEN nsym = 1 THEN cnt ELSE 0 END) AS DOUBLE)
            / SUM(cnt), 6) AS single_token_frac
        FROM enc GROUP BY lang ORDER BY lang""")),

    // ---- hybrid dense+sparse retrieval with RRF fusion (q201) --------
    // The RAG-serving primitive the registry still lacked: fuse a
    // lexical BM25 leg with a vector-similarity leg by Reciprocal Rank
    // Fusion (Cormack et al., SIGIR 2009: score = Σ 1/(60 + rank) over
    // the lists a doc appears in — rank-only, so the two legs'
    // incomparable score scales never meet). The sparse leg is q145's
    // scoring VERBATIM (shared [[bm25PerDoc]] construction — the fusion
    // retrieves exactly what the standalone query publishes, top-50).
    // The dense leg embeds every doc with the hashing trick (Weinberger
    // et al., ICML 2009): 16 dims, dim = md5(tok) hex-digit 1, sign =
    // parity of hex-digit 9, weight = Σ sign·tf — and ranks by cosine
    // against the SAME featurization of the query bag. All dot/norm
    // arithmetic is INTEGER until one final sqrt+divide (exact-input
    // doubles < 2^53 — bit-identical across engines, the q103/q135
    // integer-scaling discipline); docs whose hashed vector has zero
    // dot with the query subspace exit the dense leg by contract.
    //
    // Scale: each leg is one map-only corpus pass (shared [[docTf]]
    // kernel) into a partial-combined aggregate — the dense doc-vector
    // frame is ≤ 16 rows per doc BY CONSTRUCTION, the query vector and
    // corpus constants are broadcast scalars (whitelisted 1-row/16-row
    // BNLJ class), and each leg's top-50 is orderBy.limit →
    // TakeOrderedAndProject (distributed heap), never a global rank
    // window over the corpus. Ranks are then derived on the ≤ 50-row
    // frames by a k² theta self-join (q134's whitelisted class) — no
    // single-partition window anywhere. The fusion join is two 50-row
    // frames. At 100 TB: two corpus scans, two bounded exchanges, one
    // O(k) result.
    Q("q201_hybrid_retrieval",
      (s, dir) => {
        import s.implicits._
        rrfFused(s, dir, docTf(s, dir))
          .orderBy($"rrf".desc, $"doc_id").limit(10)
          .select($"doc_id", $"r_sparse", $"r_dense", $"rrf")
      },
      Some(s"""
        WITH $toksCte,
        ${bm25CteSql(s"tok IN (${QueryTerms.map(t => s"'$t'").mkString(", ")})")},
        sp AS (SELECT doc_id, CAST(rs AS INT) AS r_sparse FROM
                 (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rs
                  FROM bm) r WHERE rs <= 50),
        $denseScoredCteSql,
        dn AS (SELECT doc_id, CAST(rd AS INT) AS r_dense FROM
                 (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rd
                  FROM dsc) r WHERE rd <= 50),
        fused AS (SELECT COALESCE(sp.doc_id, dn.doc_id) AS doc_id,
                    sp.r_sparse, dn.r_dense,
                    ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + sp.r_sparse), 0) +
                          COALESCE(CAST(1 AS DOUBLE) / (60 + dn.r_dense), 0), 6) AS rrf
                  FROM sp FULL OUTER JOIN dn ON sp.doc_id = dn.doc_id)
        SELECT doc_id, r_sparse, r_dense, rrf FROM fused
        ORDER BY rrf DESC, doc_id LIMIT 10""")),

    // ---- pseudo-relevance-feedback query expansion (q202) ------------
    // The RM3 pattern (Lavrenko & Croft 2001, as shipped in Anserini/
    // Lucene): retrieve once with the raw query, mine the top-10 docs
    // for expansion terms, retrieve again with the widened bag —
    // recall repair for vocabulary mismatch, entirely in-plan (the
    // expansion terms are a data-dependent FRAME, never a driver
    // collect). Expansion scoring is tf-in-feedback-docs × the same
    // rational log-free idf as BM25 itself — top-3 terms, score-desc
    // with lexicographic tie-break, original terms excluded. Both
    // passes run the SHARED [[bm25PerDoc]] construction; the published
    // frame left-joins pass-1 scores so a consumer sees which top
    // docs were pulled in purely by expansion (bm25_orig NULL).
    //
    // Scale: pass 1 is q145's plan verbatim. The feedback-doc frame is
    // 10 rows BY CONSTRUCTION (broadcast); candidate vocabulary is
    // bounded by 10 docs' token sets (doc-bounded, not corpus-bounded
    // — the df exchange for candidates carries ≤ |cand| × df rows);
    // the expanded term set is ≤ 6 rows (broadcast). Each consumer
    // re-derives the token stream from the map-only token_tf kernel
    // (pass 1, candidate tf, candidate df, pass 2 — four corpus
    // scans + the consts scan) rather than materializing the exploded
    // corpus-sized tf frame: at 100 TB a pushdown-friendly re-scan
    // beats checkpointing the token stream. All exchanges are term-
    // or doc-bounded.
    Q("q202_prf_expansion",
      (s, dir) => {
        import s.implicits._
        val tf = docTf(s, dir)
        val consts = bm25Consts(s, dir)
        // pass 1: q145's scoring, feedback set = top-10 docs
        val bm1 = bm25PerDoc(tf.where($"tok".isin(QueryTerms: _*)), consts)
        val fb = bm1.orderBy($"bm25".desc, $"doc_id").limit(10)
          .select($"doc_id")
        // expansion candidates: Σtf over feedback docs × rational idf
        val candTf = tf.join(broadcast(fb), "doc_id")
          .where(!$"tok".isin(QueryTerms: _*))
          .groupBy($"tok").agg(sum($"tf").as("tfsum"))
        val dfc = tf.join(candTf.select($"tok"), "tok")
          .groupBy($"tok").agg(count(lit(1)).as("dfc"))
        val expTerms = candTf.join(dfc, "tok")
          .crossJoin(broadcast(consts))
          .withColumn("escore", round($"tfsum" *
            (($"n_docs" - $"dfc" + 0.5) / ($"dfc" + 0.5)), 6))
          .orderBy($"escore".desc, $"tok").limit(3)
          .select($"tok")
        val allTerms = expTerms.unionByName(QueryTerms.toDF("tok"))
        // pass 2: same scoring over the widened bag; publish both scores
        val bm2 = bm25PerDoc(tf.join(broadcast(allTerms), "tok"), consts)
        bm2.join(bm1.select($"doc_id", $"bm25".as("bm25_orig")),
            Seq("doc_id"), "left")
          .orderBy($"bm25".desc, $"doc_id").limit(10)
          .select($"doc_id", $"n_terms", $"bm25_orig",
            $"bm25".as("bm25_prf"))
      },
      Some {
        val termList = QueryTerms.map(t => s"'$t'").mkString(", ")
        s"""
        WITH $toksCte,
        ${bm25CteSql(s"tok IN ($termList)", "a_")},
        fb AS (SELECT doc_id FROM a_bm ORDER BY bm25 DESC, doc_id LIMIT 10),
        tfall AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
                  FROM (SELECT doc_id, UNNEST(w) AS tok FROM toksc) u
                  WHERE len(tok) > 0 GROUP BY 1, 2),
        candtf AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS tfsum
                   FROM tfall JOIN fb USING (doc_id)
                   WHERE tok NOT IN ($termList) GROUP BY tok),
        dfc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS dfc FROM tfall
                WHERE tok IN (SELECT tok FROM candtf) GROUP BY tok),
        expt AS (SELECT c.tok FROM candtf c JOIN dfc d USING (tok)
                 CROSS JOIN a_consts
                 ORDER BY ROUND(c.tfsum * ((n_docs - d.dfc + 0.5) / (d.dfc + 0.5)), 6)
                   DESC, c.tok LIMIT 3),
        allterms AS (SELECT tok FROM expt
                     UNION ALL SELECT * FROM (VALUES ${QueryTerms.map(t => s"('$t')").mkString(", ")}) v(tok)),
        ${bm25CteSql("tok IN (SELECT tok FROM allterms)", "b_")}
        SELECT b.doc_id, b.n_terms, a.bm25 AS bm25_orig, b.bm25 AS bm25_prf
        FROM b_bm b LEFT JOIN a_bm a ON a.doc_id = b.doc_id
        ORDER BY b.bm25 DESC, b.doc_id LIMIT 10"""
      }),

    // ---- lexical index staleness audit (q206) ------------------------
    // q189's frozen-index pattern applied to the LEXICAL leg: a BM25
    // index ships its background statistics (df per term, n_docs,
    // avgdl) at build time, and a corpus that keeps growing serves
    // queries against the STALE statistics until the next stats
    // refresh — cheap per-doc fields (tf, dl) are known at indexing
    // time per document, but df/avgdl drift with the corpus. Split:
    // the stats froze when the corpus was the src0–src4 slice (the
    // "first crawl"); the serving corpus is all 20 sources. A
    // SOURCE-based freeze, not a uniform doc_id holdout, because
    // staleness in production comes from DISTRIBUTION drift — new
    // sources with different vocabularies — and a uniform 10% holdout
    // of this synthetic corpus measurably preserves every rank
    // (overlap 10/10 at all three SFs, checked before this fixture
    // was chosen; the source freeze yields genuine inversions:
    // 9/9/8). Every doc is scored twice — under the frozen stats
    // (what the stale index actually returns) and under fresh
    // full-corpus stats (the truth after a refresh) — and the stale
    // top-10 is published with both scores plus membership in the
    // fresh top-10: the overlap IS the staleness alarm, the lexical
    // twin of q189's imbalance drift.
    //
    // Determinism: both score chains are the q145 contract (round-6
    // parts, DECIMAL sums); the frozen df rides the SAME tok-window
    // exchange as the fresh df (a conditional sum — no second
    // shuffle). Scale: q145's plan plus one broadcast 10-row
    // membership probe.
    Q("q206_bm25_staleness",
      (s, dir) => {
        import s.implicits._
        val frozenSrcs = (0 to 4).map(i => s"src$i")
        val docs = documents(s, dir)
        val constsO = Dedup.withToks(docs.filter($"source".isin(frozenSrcs: _*)))
          .agg(count(lit(1)).as("n_docs_o"), sum(size($"toks")).as("tot_o"))
        val constsF = bm25Consts(s, dir)
        val wTok = Window.partitionBy($"tok")
        def part(tfc: org.apache.spark.sql.Column, dfc: org.apache.spark.sql.Column,
                 nd: org.apache.spark.sql.Column, avgdl: org.apache.spark.sql.Column) =
          round(((nd - dfc + 0.5) / (dfc + 0.5)) * (tfc * (K1 + 1.0)) /
            (tfc + lit(K1) * (lit(1.0 - B) + lit(B) * ($"dl" / avgdl))), 6)
        val tfq = Dedup.withToks(docs)
          .select($"doc_id", $"source", size($"toks").as("dl"),
            explode(expr("token_tf(toks)")).as("kv"))
          .select($"doc_id", $"source", $"dl",
            $"kv.tok".as("tok"), $"kv.tf".as("tf"))
          .where($"tok".isin(QueryTerms: _*))
        val scored = tfq
          .withColumn("dfc_f", count(lit(1)).over(wTok))
          .withColumn("dfc_o",
            sum(when($"source".isin(frozenSrcs: _*), 1L).otherwise(0L)).over(wTok))
          .crossJoin(broadcast(constsO)).crossJoin(broadcast(constsF))
          .withColumn("avgdl_o", $"tot_o".cast(DoubleType) / $"n_docs_o")
          .withColumn("avgdl_f", $"tot".cast(DoubleType) / $"n_docs")
          .withColumn("pf", part($"tf", $"dfc_o", $"n_docs_o", $"avgdl_o"))
          .withColumn("pt", part($"tf", $"dfc_f", $"n_docs", $"avgdl_f"))
        val bm = scored.groupBy($"doc_id")
          .agg(sum($"pf".cast(DecimalType(28, 6))).cast(DoubleType).as("bm25_frozen"),
            sum($"pt".cast(DecimalType(28, 6))).cast(DoubleType).as("bm25_fresh"))
        val freshTop = bm.orderBy($"bm25_fresh".desc, $"doc_id").limit(10)
          .select($"doc_id", lit(true).as("in_fresh_top10"))
        bm.orderBy($"bm25_frozen".desc, $"doc_id").limit(10)
          .join(broadcast(freshTop), Seq("doc_id"), "left")
          .na.fill(false, Seq("in_fresh_top10"))
          .orderBy($"bm25_frozen".desc, $"doc_id")
          .select($"doc_id", $"bm25_frozen", $"bm25_fresh", $"in_fresh_top10")
      },
      Some {
        val termList = QueryTerms.map(t => s"'$t'").mkString(", ")
        val srcList = (0 to 4).map(i => s"'src$i'").mkString(", ")
        s"""
        WITH $toksCte,
        co AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_o,
                      CAST(SUM(len(w)) AS BIGINT) AS tot_o
               FROM toksc WHERE source IN ($srcList)),
        cf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                      CAST(SUM(len(w)) AS BIGINT) AS tot FROM toksc),
        tf AS (SELECT doc_id, source, dl, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM
                 (SELECT doc_id, source, len(w) AS dl, UNNEST(w) AS tok FROM toksc) u
               WHERE tok IN ($termList) GROUP BY 1, 2, 3, 4),
        wdf AS (SELECT tf.*,
                  CAST(COUNT(*) OVER (PARTITION BY tok) AS BIGINT) AS dfc_f,
                  CAST(SUM(CASE WHEN source IN ($srcList) THEN 1 ELSE 0 END)
                       OVER (PARTITION BY tok) AS BIGINT) AS dfc_o
                FROM tf),
        scored AS (SELECT doc_id,
            ROUND(((n_docs_o - dfc_o + 0.5) / (dfc_o + 0.5)) * (tf * ${K1 + 1.0}) /
              (tf + $K1 * ((1.0 - $B) + $B * (dl / (CAST(tot_o AS DOUBLE) / n_docs_o)))), 6) AS pf,
            ROUND(((n_docs - dfc_f + 0.5) / (dfc_f + 0.5)) * (tf * ${K1 + 1.0}) /
              (tf + $K1 * ((1.0 - $B) + $B * (dl / (CAST(tot AS DOUBLE) / n_docs)))), 6) AS pt
          FROM wdf CROSS JOIN co CROSS JOIN cf),
        bm AS (SELECT doc_id,
                 CAST(SUM(CAST(pf AS DECIMAL(28,6))) AS DOUBLE) AS bm25_frozen,
                 CAST(SUM(CAST(pt AS DECIMAL(28,6))) AS DOUBLE) AS bm25_fresh
               FROM scored GROUP BY doc_id),
        ft AS (SELECT doc_id FROM bm ORDER BY bm25_fresh DESC, doc_id LIMIT 10)
        SELECT b.doc_id, b.bm25_frozen, b.bm25_fresh,
          (b.doc_id IN (SELECT doc_id FROM ft)) AS in_fresh_top10
        FROM bm b
        ORDER BY b.bm25_frozen DESC, b.doc_id LIMIT 10"""
      }),

    // ---- BPE merge-budget curve (q207) -------------------------------
    // The vocab-size ablation every tokenizer design pays for ONCE and
    // ships forever: chars-per-token as a function of the merge budget
    // k ∈ {0, 2, 4, 8}. A BPE merge table's PREFIXES are themselves
    // valid trained tables (training is greedy-incremental), so the
    // whole curve prices from the ONE trained table — no retraining
    // per point; k = 0 is the character baseline (chars_per_token = 1
    // by construction for nonempty tokens), k = 8 replays q159's
    // compression exactly (spec-pinned partition identity). Encoding
    // is the q159 replace-chain ([[bpeChainK]] — the SAME chain
    // builder, truncated), so the dial cannot diverge from the
    // encoder it prices.
    //
    // Scale: the q159 word-cache shape — ONE corpus-collapsing
    // (tok → cnt) aggregate, then all four chains run at vocab scale
    // on the same frame (stack → 4 rows per distinct word), one ≤4-key
    // publish aggregate. The corpus is touched once.
    Q("q207_bpe_budget_curve",
      (s, dir) => {
        import s.implicits._
        val seed =
          "concat(' ', array_join(filter(split(tok, ''), c -> c <> ''), '  '), ' ')"
        val ks = Seq(0, 2, 4, 8)
        val wc = Dedup.withToks(documents(s, dir))
          .select(explode($"toks").as("tok"))
          .filter(length($"tok") > 0)
          .groupBy($"tok").agg(count(lit(1)).as("cnt"))
        val enc = ks.foldLeft(wc) { (df, k) =>
          df.withColumn(s"n$k",
            size(split(trim(expr(bpeChainK(seed, k))), "  ")).cast(LongType))
        }
        enc.selectExpr("cnt", "length(tok) AS ln",
            s"stack(${ks.size}, ${ks.map(k => s"$k, n$k").mkString(", ")}) AS (n_merges, nsym)")
          .groupBy($"n_merges")
          .agg(sum($"cnt").as("n_words"),
            sum($"cnt" * $"nsym").as("bpe_tokens"),
            round(sum($"cnt" * $"ln").cast(DoubleType) /
              sum($"cnt" * $"nsym"), 6).as("chars_per_token"))
          .orderBy($"n_merges")
      },
      Some {
        val duckSeed =
          "concat(' ', array_to_string(list_filter(string_split_regex(tok, ''), c -> c <> ''), '  '), ' ')"
        def leg(k: Int) = s"""
        SELECT $k AS n_merges,
          CAST(SUM(cnt) AS BIGINT) AS n_words,
          CAST(SUM(cnt * len(string_split(trim(${bpeChainK(duckSeed, k)}), '  '))) AS BIGINT) AS bpe_tokens,
          ROUND(CAST(SUM(cnt * len(tok)) AS DOUBLE) /
            SUM(cnt * len(string_split(trim(${bpeChainK(duckSeed, k)}), '  '))), 6) AS chars_per_token
        FROM wc"""
        s"""
        WITH $toksCte,
        wc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM
                 (SELECT UNNEST(w) AS tok FROM toksc) u
               WHERE len(tok) > 0 GROUP BY 1)
        SELECT CAST(n_merges AS INT) AS n_merges, n_words, bpe_tokens, chars_per_token FROM (
        ${Seq(0, 2, 4, 8).map(leg).mkString("\n        UNION ALL ")}) c
        ORDER BY n_merges"""
      }),

    // ---- RAG context packing under a token budget (q211) -------------
    // The last step of every RAG serve: the retrieved ranking meets
    // the model's context window. Greedy-by-rank packing (the
    // production default): walk the BM25 ranking best-first and admit
    // each doc while the RUNNING token total stays within the budget
    // (1024 tokens here), skipping docs that would overflow —
    // NON-contiguous admission, so a later small doc can use slack a
    // big doc couldn't. One window pass computes it relationally: the
    // admitted set is defined by the recurrence acc_i = acc_{i-1} +
    // (len_i if it fits), which a single ordered aggregate-HOF over
    // the collected ranking computes exactly — and the ranking is
    // ≤ 50 rows BY CONSTRUCTION (q201's leg contract), so the fold
    // runs on a bounded array, not the corpus. Published: the packed
    // docs with rank, token count and running total.
    //
    // Scale: corpus work is exactly q145's (one scan, one bounded
    // exchange, top-50 heap); the packing itself is O(k) on a k-row
    // frame. Token counts are the nonempty-token census (the q31
    // contract), integer-exact in both engines.
    Q("q211_context_pack",
      (s, dir) => {
        import s.implicits._
        val budget = 1024L
        val tf = docTf(s, dir)
        val ranked = bm25PerDoc(tf.where($"tok".isin(QueryTerms: _*)),
            bm25Consts(s, dir))
          .orderBy($"bm25".desc, $"doc_id").limit(50)
        val toks = Dedup.withToks(documents(s, dir))
          .select($"doc_id",
            size(expr("filter(toks, t -> length(t) > 0)")).cast(LongType).as("n_tokens"))
        // rank on the bounded frame (theta self-join — the q201 shape),
        // then the greedy fold over ONE collected array of (rank, len)
        val b = ranked.select($"bm25".as("s2"), $"doc_id".as("id2"))
        val withRank = ranked.join(broadcast(b),
            $"s2" > $"bm25" || ($"s2" === $"bm25" && $"id2" < $"doc_id"), "left")
          .groupBy($"doc_id", $"bm25")
          .agg((count($"id2") + 1).cast(IntegerType).as("rank"))
          .join(toks, "doc_id")
        val rows = withRank.select($"rank", $"doc_id", $"bm25", $"n_tokens")
          .collect().sortBy(r => r.getInt(0))
        require(rows.length <= 50, s"ranking exceeded its limit: ${rows.length}")
        var acc = 0L
        val packed = rows.flatMap { r =>
          val nt = r.getLong(3)
          if (acc + nt <= budget) { acc += nt
            Some((r.getInt(0), r.getLong(1), r.getDouble(2), nt, acc))
          } else None
        }
        s.createDataFrame(packed.toSeq)
          .toDF("rank", "doc_id", "bm25", "n_tokens", "cum_tokens")
          .orderBy($"rank")
      },
      Some {
        val termList = QueryTerms.map(t => s"'$t'").mkString(", ")
        // the greedy admission recurrence (skip-on-overflow makes it
        // NOT a prefix sum) as a linear recursive walk over the ≤50
        // ranks — the oracle-side twin of the bounded driver fold
        s"""
        WITH RECURSIVE $toksCte,
        ${bm25CteSql(s"tok IN ($termList)")},
        ranked AS (SELECT doc_id, bm25,
                     CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank
                   FROM bm QUALIFY rank <= 50),
        lens AS (SELECT doc_id, CAST(len(list_filter(w, t -> len(t) > 0)) AS BIGINT)
                   AS n_tokens FROM toksc),
        rl AS (SELECT r.rank, r.doc_id, r.bm25, l.n_tokens
               FROM ranked r JOIN lens l USING (doc_id)),
        walk(rank, acc, admitted) AS (
          SELECT 0, CAST(0 AS BIGINT), false
          UNION ALL
          SELECT w.rank + 1,
            CASE WHEN w.acc + r.n_tokens <= 1024
                 THEN w.acc + r.n_tokens ELSE w.acc END,
            (w.acc + r.n_tokens <= 1024)
          FROM walk w JOIN rl r ON r.rank = w.rank + 1)
        SELECT r.rank, r.doc_id, r.bm25, r.n_tokens, w.acc AS cum_tokens
        FROM walk w JOIN rl r ON r.rank = w.rank
        WHERE w.admitted ORDER BY r.rank"""
      }),

    // ---- BM25-mined hard negatives (q212) ----------------------------
    // The DPR recipe (Karpukhin et al., EMNLP 2020): the best training
    // negatives for a dense retriever are the docs BM25 ranks high but
    // the dense model does not — lexically query-like, semantically
    // off. Mining = q201's two legs pointed at each other: sparse
    // top-50 ANTI-JOINED against dense top-50, published with the
    // sparse rank, the BM25 score and the doc's dense cosine (NULL
    // when its hashed vector has no overlap with the query subspace —
    // the strongest negatives of all), ordered by sparse rank, top 10.
    // Both legs are the SHARED q201 constructions ([[bm25PerDoc]],
    // [[denseScored]], [[rankBounded]]) — the miner prices exactly
    // the retriever it mines for.
    //
    // Scale: identical to q201 (two map-only corpus scans, bounded
    // exchanges, top-50 heaps); the anti-join and the cosine
    // annotation run on ≤50-row frames.
    Q("q212_hard_negatives",
      (s, dir) => {
        import s.implicits._
        val tf = docTf(s, dir)
        val sparseTop = bm25PerDoc(tf.where($"tok".isin(QueryTerms: _*)),
            bm25Consts(s, dir))
          .orderBy($"bm25".desc, $"doc_id").limit(50)
        val sp = rankBounded(sparseTop, "bm25", "r_sparse")
          .join(sparseTop.select($"doc_id", $"bm25"), "doc_id")
        val dsc = denseScored(s, tf)
        val denseTop = dsc.orderBy($"cos".desc, $"doc_id").limit(50)
        sp.join(denseTop.select($"doc_id"), Seq("doc_id"), "left_anti")
          .join(dsc.withColumnRenamed("cos", "dense_cos"), Seq("doc_id"), "left")
          .orderBy($"r_sparse", $"doc_id").limit(10)
          .select($"doc_id", $"r_sparse", $"bm25", $"dense_cos")
      },
      Some(s"""
        WITH $toksCte,
        ${bm25CteSql(s"tok IN (${QueryTerms.map(t => s"'$t'").mkString(", ")})")},
        sp AS (SELECT doc_id, bm25, CAST(rs AS INT) AS r_sparse FROM
                 (SELECT doc_id, bm25,
                    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rs
                  FROM bm) r WHERE rs <= 50),
        $denseScoredCteSql,
        dn AS (SELECT doc_id FROM
                 (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rd
                  FROM dsc) r WHERE rd <= 50)
        SELECT s2.doc_id, s2.r_sparse, s2.bm25, d.cos AS dense_cos
        FROM sp s2 LEFT JOIN dsc d ON d.doc_id = s2.doc_id
        WHERE s2.doc_id NOT IN (SELECT doc_id FROM dn)
        ORDER BY s2.r_sparse, s2.doc_id LIMIT 10""")),

    // ---- end-to-end RAG serving pipeline (q216) -----------------------
    // The three serving stages the registry prices separately,
    // COMPOSED as one query — the path a production RAG stack runs
    // per request: (1) RETRIEVE: q201's hybrid fusion verbatim
    // (shared [[bm25PerDoc]]/[[denseScored]]/[[rankBounded]]
    // constructions, RRF over the two top-50 legs), top-20 candidates
    // by (rrf, doc_id); (2) DIVERSIFY: q203's greedy λ = 0.5 MMR over
    // the bounded candidate frame, k = 5, where rel = the RRF score
    // and pairwise similarity = cosine of the SAME hashed doc vectors
    // the dense leg retrieved with ([[docHashedVecs]] — integer
    // dot/norms, round-6 before every decision, id tiebreaks;
    // disjoint-support pairs have cosine 0 by definition); (3) PACK:
    // q211's greedy-by-rank token-budget walk over the MMR selection
    // order (budget = 100 tokens — sized so it BINDS on the 5-doc
    // context at every gate SF, exercising skip-on-overflow) — a
    // later small doc can use slack a big one couldn't. Published:
    // the ADMITTED
    // context, one row per packed doc with both stage scores, its
    // token count and the running total.
    //
    // Scale: corpus work is exactly q201's (two map-only scans,
    // bounded exchanges, two top-50 heaps — the three stages SHARE
    // the one tf construction [[docTf]]); everything after the fusion
    // runs on ≤ 20-row limit-guarded frames (collected under
    // `require` bounds like q203/q211 — MMR is serial by definition;
    // at 100 TB the corpus side stays in the candidate generator).
    Q("q216_rag_serve_pipeline",
      (s, dir) => {
        import s.implicits._
        val budget = 100L
        val tf = docTf(s, dir)
        // stage 1 — retrieve (q201's fusion, top-20)
        val fused = rrfFused(s, dir, tf)
          .orderBy($"rrf".desc, $"doc_id").limit(20)
          .select($"doc_id", $"rrf".as("rel"))
          .localCheckpoint(true)
        // stage 2 — diversify: pairwise cosines of the candidates'
        // hashed vectors (≤ 20 docs × ≤ 16 dims), then the q203 greedy
        val dvec = docHashedVecs(tf)
          .join(broadcast(fused.select($"doc_id")), Seq("doc_id"))
          .localCheckpoint(true)
        val dn2 = dvec.groupBy($"doc_id").agg(sum($"wt" * $"wt").as("dn2"))
        val pair = dvec.select($"doc_id".as("ida"), $"dim", $"wt".as("wa"))
          .join(dvec.select($"doc_id".as("idb"), $"dim", $"wt".as("wb")), Seq("dim"))
          .filter($"ida" =!= $"idb")
          .groupBy($"ida", $"idb").agg(sum($"wa" * $"wb").as("ab"))
        val sims = pair
          .join(dn2.select($"doc_id".as("ida"), $"dn2".as("na2")), Seq("ida"))
          .join(dn2.select($"doc_id".as("idb"), $"dn2".as("nb2")), Seq("idb"))
          .select($"ida", $"idb", round($"ab".cast(DoubleType) /
            sqrt($"na2".cast(DoubleType) * $"nb2".cast(DoubleType)), 6).as("sim"))
        val toks = Dedup.withToks(documents(s, dir))
          .select($"doc_id",
            size(expr("filter(toks, t -> length(t) > 0)")).cast(LongType).as("n_tokens"))
          .join(broadcast(fused.select($"doc_id")), Seq("doc_id"))
        val candRows = fused.collect()
        require(candRows.length <= 20, s"candidate frame exceeded its limit: ${candRows.length}")
        val simRows = sims.collect()
        require(simRows.length <= 380, s"sim frame exceeded its bound: ${simRows.length}")
        val tokRows = toks.collect()
        require(tokRows.length <= 20, s"token frame exceeded its bound: ${tokRows.length}")
        val rel = candRows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val sim = simRows.map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
        val ntok = tokRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        // the MMR objective at λ = 0.5 is decided and published at 2×
        // scale (rel − max-sim, NOT 0.5·rel − 0.5·max-sim): rel and
        // sim are both on the 1e-6 grid, so the halved form lands
        // EXACTLY on 5e-7 half-steps whenever their difference is an
        // odd micro-count — where Spark's exact-decimal HALF_UP and
        // DuckDB's multiply-then-round systematically disagree
        // (measured: -0.300968 vs -0.300969). The margin itself stays
        // on the grid — same argmax, unambiguous rounding.
        var selected = Vector.empty[(Int, Long, Double, Double)]
        var remaining = rel.keySet
        for (k <- 1 to 5 if remaining.nonEmpty) {
          val scored = remaining.toSeq.map { c =>
            val ms = if (selected.isEmpty) 0.0
                     else selected.map(sl => sim.getOrElse((c, sl._2), 0.0)).max
            (c, r6(rel(c) - ms))
          }
          val (bc, bm) = scored.minBy { case (c, m) => (-m, c) }
          selected :+= ((k, bc, rel(bc), bm))
          remaining -= bc
        }
        // stage 3 — pack: greedy skip-on-overflow walk in MMR order
        var acc = 0L
        val packed = selected.flatMap { case (k, id, rl, mm) =>
          val nt = ntok.getOrElse(id, 0L)
          if (acc + nt <= budget) { acc += nt; Some((k, id, rl, mm, nt, acc)) }
          else None
        }
        s.createDataFrame(packed)
          .toDF("sel_rank", "doc_id", "rrf", "mmr", "n_tokens", "cum_tokens")
          .orderBy($"sel_rank")
      },
      Some {
        val termList = QueryTerms.map(t => s"'$t'").mkString(", ")
        // pair CTEs note: `psum` holds only pairs with SHARED hashed
        // dims; `sims` is made COMPLETE over cand×cand with absent
        // pairs zero-filled (disjoint support = true cosine 0 —
        // matching the Scala getOrElse), so the greedy's correlated
        // max can stay q203's inner-join shape (DuckDB does not
        // support correlated non-inner joins).
        val rounds = (2 to 5).map { r =>
          val prev = s"sel${r - 1}"
          s"""
        s$r AS MATERIALIZED (
          SELECT c.doc_id, c.rel,
            ROUND(c.rel - (SELECT MAX(s.sim) FROM sims s
              JOIN $prev t ON s.idb = t.doc_id WHERE s.ida = c.doc_id), 6) AS mmr
          FROM cand c WHERE c.doc_id NOT IN (SELECT doc_id FROM $prev)
          ORDER BY mmr DESC, doc_id LIMIT 1),
        sel$r AS (SELECT doc_id FROM $prev UNION ALL SELECT doc_id FROM s$r)"""
        }.mkString(",")
        val selrows = (1 to 5)
          .map(r => s"SELECT $r AS sel_rank, doc_id, rel, mmr FROM s$r")
          .mkString("\n          UNION ALL ")
        s"""
        WITH RECURSIVE $toksCte,
        ${bm25CteSql(s"tok IN ($termList)")},
        sp AS (SELECT doc_id, CAST(rs AS INT) AS r_sparse FROM
                 (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rs
                  FROM bm) r WHERE rs <= 50),
        $denseScoredCteSql,
        dn AS (SELECT doc_id, CAST(rd AS INT) AS r_dense FROM
                 (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rd
                  FROM dsc) r WHERE rd <= 50),
        fused AS (SELECT COALESCE(sp.doc_id, dn.doc_id) AS doc_id,
                    ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + sp.r_sparse), 0) +
                          COALESCE(CAST(1 AS DOUBLE) / (60 + dn.r_dense), 0), 6) AS rel
                  FROM sp FULL OUTER JOIN dn ON sp.doc_id = dn.doc_id),
        cand AS MATERIALIZED (SELECT doc_id, rel FROM fused
                              ORDER BY rel DESC, doc_id LIMIT 20),
        cdv AS (SELECT d.doc_id, d.dim, d.wt FROM dvec d JOIN cand USING (doc_id)),
        cdn AS (SELECT doc_id, CAST(SUM(wt * wt) AS BIGINT) AS dn2
                FROM cdv GROUP BY doc_id),
        psum AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
                   CAST(SUM(a.wt * b.wt) AS BIGINT) AS ab
                 FROM cdv a JOIN cdv b ON a.dim = b.dim AND a.doc_id <> b.doc_id
                 GROUP BY 1, 2),
        sims AS MATERIALIZED (SELECT a.doc_id AS ida, b.doc_id AS idb,
                   ROUND(COALESCE(CAST(p.ab AS DOUBLE) /
                     sqrt(CAST(na.dn2 AS DOUBLE) * CAST(nb.dn2 AS DOUBLE)), 0.0), 6) AS sim
                 FROM cand a JOIN cand b ON a.doc_id <> b.doc_id
                 LEFT JOIN psum p ON p.ida = a.doc_id AND p.idb = b.doc_id
                 JOIN cdn na ON na.doc_id = a.doc_id
                 JOIN cdn nb ON nb.doc_id = b.doc_id),
        s1 AS MATERIALIZED (SELECT doc_id, rel, ROUND(rel, 6) AS mmr
                            FROM cand ORDER BY mmr DESC, doc_id LIMIT 1),
        sel1 AS (SELECT doc_id FROM s1),$rounds,
        lens AS (SELECT doc_id, CAST(len(list_filter(w, t -> len(t) > 0)) AS BIGINT)
                   AS n_tokens FROM toksc),
        selrows AS (
          $selrows),
        rl AS (SELECT sr.sel_rank, sr.doc_id, sr.rel, sr.mmr, l.n_tokens
               FROM selrows sr JOIN lens l USING (doc_id)),
        walk(rank, acc, admitted) AS (
          SELECT 0, CAST(0 AS BIGINT), false
          UNION ALL
          SELECT w.rank + 1,
            CASE WHEN w.acc + r.n_tokens <= 100
                 THEN w.acc + r.n_tokens ELSE w.acc END,
            (w.acc + r.n_tokens <= 100)
          FROM walk w JOIN rl r ON r.sel_rank = w.rank + 1)
        SELECT CAST(r.sel_rank AS INT) AS sel_rank, r.doc_id, r.rel AS rrf,
          r.mmr, r.n_tokens, w.acc AS cum_tokens
        FROM walk w JOIN rl r ON r.sel_rank = w.rank
        WHERE w.admitted ORDER BY r.sel_rank"""
      })
  )
}

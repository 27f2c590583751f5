package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions

/** Deduplication operators over the `documents` table [EXT]
  * (SURVEY.md §2B dedup rows): exact, MinHash-LSH near-dup with
  * Jaccard verification, and SimHash fingerprints. Techniques follow
  * the published constructions — Broder's shingling+min-wise hashing
  * (SEQUENCES '97) with banded LSH, and Charikar's random-projection
  * simhash (STOC '02) — implemented as pure relational dataflow.
  *
  * Cross-engine determinism: all hashing is md5 (identical hex output
  * in Spark and DuckDB), so the MinHash signature is the *lexicographic
  * minimum of an 8-hex md5 slice* per band (band k reads digest chars
  * 8k+1..8k+8 — independent 32-bit hash functions from ONE digest) — a
  * valid MinHash family and bit-reproducible in the oracle. SimHash
  * uses the low bit of each md5 nibble.
  *
  * Scale design: near-dup never compares all pairs. Signatures are one
  * shuffle (groupBy doc); LSH candidates come from an equi-join on
  * (band, signature) — band buckets are the join key, so skew is
  * bounded by bucket size, and the O(n²) work only happens inside a
  * bucket of near-identical docs (which is the point). Jaccard
  * verification joins only candidate pairs against the shingle sets.
  */
object Dedup {
  import Tables._

  /** tokens: split on non-word chars, lowercased — identical to the
    * oracle's `string_split_regex(lower(text), '\W+')`. private[graft]
    * so the streaming BM25 serve shares the ONE tokenizer. */
  private[graft] def withToks(df: DataFrame): DataFrame =
    df.withColumn("toks", split(lower(col("text")), "\\W+"))

  /** SQL for the word n-gram array over a token-array column; docs
    * shorter than `n` tokens yield an EMPTY array (an unguarded
    * `sequence(0, size - n)` would DESCEND and explode garbage).
    * The single source of truth for gram construction — shared by
    * [[shingles]] (n=3), q69/q71 (TrainingOps) and
    * `StreamOps.decontaminate`, so a tokenization fix can't silently
    * diverge the batch and streaming forms.
    *
    * The whole expression is wrapped in the `transform(array(x),
    * v -> body)[0]` let-binding: `toksCol` is usually a projected
    * alias over `split(lower(text))`, and CollapseProject inlines
    * such aliases into EVERY reference — including the per-element
    * references inside the gram lambda, which would re-run the split
    * once per gram in interpreted higher-order-function eval (the
    * q116 blow-up, docs/PLANS_r4.md). Binding it to a lambda variable
    * evaluates it once per row; no optimizer rule inlines through a
    * lambda binding. */
  private[graft] def gramArraySql(n: Int, toksCol: String = "toks"): String = {
    val parts = (1 to n).map(j => s"element_at(__tk, i + $j)").mkString(", ")
    s"""transform(array($toksCol), __tk ->
          CASE WHEN size(__tk) >= $n
          THEN transform(sequence(0, size(__tk) - $n), i -> concat_ws(' ', $parts))
          ELSE CAST(array() AS ARRAY<STRING>) END)[0]"""
  }

  /** 3-word shingles, exploded. Docs with <3 tokens produce NO shingles
    * — by design they exit near-dup entirely and are handled by exact
    * dedup only: a sub-3-token doc has no meaningful 3-gram Jaccard
    * neighborhood, and treating such docs as near-dups of each other
    * ("the end" vs "the start") would be wrong more often than right.
    * The oracle SQL's range() shingler produces zero rows for them too,
    * so both engines agree; q58's exact-dedup stage still collapses
    * byte-identical short docs. Pinned by DedupSpec. */
  private[operators] def shingles(df: DataFrame): DataFrame =
    withToks(df)
      .withColumn("s", explode(expr(gramArraySql(3))))
      .select(col("doc_id"), col("s"))

  /** The unsigned-32-bit half-band split of a 64-bit fingerprint — the
    * single source of truth for the hamming<=1 probe key (pigeonhole
    * over 2 bands), shared by q61, q76 and the streaming index dedup.
    * Use with `selectExpr`/`expr`: produces `(band, half)` rows. */
  private[graft] def halfBandsSql(fpCol: String): String =
    s"stack(2, 0, $fpCol & 4294967295, 1, shiftrightunsigned($fpCol, 32)) AS (band, half)"

  /** The oracle-side tokenizer CTE body — the single source of truth
    * for `toksc(doc_id, source, w)` (the SQL twin of [[withToks]]),
    * shared by Dedup/TrainingOps/CurationOps oracles so a tokenizer
    * change can't silently diverge operator families. */
  private[graft] val toksCteSql: String =
    """toksc AS (SELECT doc_id, source, string_split_regex(lower(text), '\W+') AS w FROM documents)"""

  /** The shared shingle CTE prefix for oracle SQL. */
  private[operators] val shingleCte: String = s"""
    WITH $toksCteSql,
    sh AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
           FROM toksc, UNNEST(range(1, len(w) - 1)) AS t(i))"""

  /** Oracle CTEs of the rare-shingle candidate chain shared by the q70
    * (Jaccard) and q128 (containment) oracles, after [[shingleCte]]:
    * `dsh`, document frequencies `df`, the rare (df <= 8) shingles
    * `rare`, the doc pairs sharing >= 2 of them `cand(ida, idb)`,
    * `card(doc_id, n)` and the exact intersections `inter(ida, idb, i)`. */
  private[operators] val rareShingleInterCteSql: String = """
        dsh AS (SELECT DISTINCT doc_id, s FROM sh),
        df AS (SELECT s, COUNT(*) AS dfc FROM dsh GROUP BY s),
        rare AS (SELECT dsh.doc_id, dsh.s FROM dsh JOIN df ON dsh.s = df.s WHERE df.dfc <= 8),
        cand AS (SELECT a.doc_id AS ida, b.doc_id AS idb
                 FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        card AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
        inter AS (SELECT c.ida, c.idb, COUNT(*) AS i FROM cand c
                  JOIN dsh x ON x.doc_id = c.ida
                  JOIN dsh y ON y.doc_id = c.idb AND x.s = y.s
                  GROUP BY c.ida, c.idb)"""

  /** Oracle CTEs `dsh(doc_id, s)` / `card(doc_id, n)` — the distinct
    * per-doc shingle sets and their cardinalities, shared by the q27
    * LSH chain, q125's exact chain and q164's recall audit. */
  private[operators] val dshCardCteSql: String = """
        dsh AS (SELECT DISTINCT doc_id, s FROM sh),
        card AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id)"""

  /** Oracle CTE chain ending in `lshp(ida, idb, jacc)` — q27's LSH
    * candidate generation + Jaccard verification at the rounded
    * >= 0.5 threshold. ONE source of truth for q27's published pairs
    * and q164's recall numerator, so an edit to the band scheme or
    * the threshold cannot silently diverge the audit from the method
    * it audits. Requires `bands`, `dsh`, `card` in scope. */
  private[operators] val lshPairsCteSql: String = """
        cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
                 FROM bands a JOIN bands b ON a.band = b.band AND a.sg = b.sg AND a.doc_id < b.doc_id),
        inter AS (SELECT c.ida, c.idb, COUNT(*) AS i
                  FROM cand c JOIN dsh x ON x.doc_id = c.ida
                  JOIN dsh y ON y.doc_id = c.idb AND y.s = x.s
                  GROUP BY c.ida, c.idb),
        lshp AS (SELECT i2.ida, i2.idb,
                   ROUND(CAST(i2.i AS DOUBLE) / (ca.n + cb.n - i2.i), 6) AS jacc
                 FROM inter i2 JOIN card ca ON ca.doc_id = i2.ida
                 JOIN card cb ON cb.doc_id = i2.idb
                 WHERE ROUND(CAST(i2.i AS DOUBLE) / (ca.n + cb.n - i2.i), 6) >= 0.5)"""

  private val nBands = 8       // slice minima per signature (16-bit each)
  private val nCandBands = 2   // candidate bands, r = nBands/nCandBands = 4

  /** The minhash slice family: slice k's hash of a shingle is the
    * k-th 4-hex slice of ONE md5 digest — eight independent 16-bit
    * hash functions for the price of one digest (md5's output bytes
    * are independent), against r3's md5(s || '#k') which spent one
    * digest PER FUNCTION per shingle occurrence and dominated the map
    * CPU of the whole near-dup family. Candidate generation
    * AND-combines 4 slices per band (r = 4, b = 2): with the old
    * r = 1 scheme a band bucket held every doc whose minimum was the
    * globally-smallest-hashed POPULAR shingle — measured at 100x
    * sf0.1: one 94k-doc bucket, 5.3e9 candidate pairs from band 0
    * alone, a quadratic cliff driven by corpus-invariant background
    * Jaccard. r = 4 collapses that to 19M candidates (biggest bucket
    * 1356) while keeping >= 96.6% per-pair recall at the J ~ 0.95
    * replica pairs dedup hunts (1-(1-J^4)^2); within a 10-replica
    * cluster the few missed pairs are bridged by the component step.
    * Shared (with [[bandSliceSql]]/[[bandsCteSql]]) by
    * q26/q27/q58/q66/q79/q80/q105 and their oracles. */
  /** Oracle twin of the slice-k minimum in the signature over a
    * shingle column. */
  private[operators] def bandSliceSql(k: Int, shingleExpr: String = "s"): String =
    s"substr(md5($shingleExpr), ${k * 4 + 1}, 4)"

  /** Oracle CTE `bands(doc_id, band, sg)`: the r = 4 AND-combination
    * of slice minima — band b = mh(4b) || .. || mh(4b+3). NULL minima
    * (sub-3-token docs) concatenate to NULL and never equi-join, in
    * both engines. Single source of truth with the Scala twin in
    * [[nearDupPairsFrom]]. */
  private[operators] lazy val bandsCteSql: String = {
    val rows = (0 until nCandBands).map { b =>
      val cat = (4 * b until 4 * b + 4).map(k => s"mh$k").mkString(" || ")
      s"SELECT doc_id, $b AS band, $cat AS sg FROM sig"
    }
    s"bands AS (${rows.mkString(" UNION ALL ")})"
  }

  /** `doc_id` plus the flattened per-row MinHash state from the
    * [[graft.functions.MinHashSig]] kernel; docs with fewer than 3
    * tokens are dropped (they have no 3-gram — the same rows the r3
    * exploded form's empty gram array removed).
    *
    * The signature stage is MAP-ONLY: the shingles never leave their
    * row, so there is no exchange at all. The r3 shape exploded every
    * shingle occurrence and shuffled the exploded corpus (~3x the
    * corpus bytes, the single biggest exchange in the near-dup family)
    * into an ObjectHashAggregate; a 3-gram is a row-local construct,
    * so at any scale that shuffle bought nothing. min-over-multiset
    * equals min-over-set and a distinct hash set equals
    * `collect_set(hash)` up to ordering, which no consumer observes
    * (size / array_intersect only) — verified row-identical vs the
    * aggregate form at sf0.1. The same construction as nested
    * higher-order functions was measured 5x slower than the kernel
    * (interpreted lambda eval, one commons-codec digest allocation
    * per gram) — see MinHashSig's scaladoc.
    *
    * Parallelism note: being map-side, the stage's parallelism equals
    * the SCAN's split count — a corpus written as one giant parquet
    * row group would hash on one core. That is a lake-layout property,
    * not a plan property: any real corpus has thousands of row groups
    * (tools/make_sfbig.py sizes the synthetic one accordingly). An
    * unconditional repartition here was measured a net LOSS at sf0.1
    * (round-robin pays a full-row sortBeforeRepartition on the text;
    * even hash-on-doc_id adds an exchange + 32-task scheduling per
    * stage that outweighs the serial hashing it saves — q66 2.3s ->
    * 3.3s), so the layout contract is documented instead of papered
    * over with a shuffle. */
  private def sigFrame(s: SparkSession, dir: String, withSet: Boolean): DataFrame = {
    val flat = col("doc_id") +:
      (if (withSet) Seq(col("q.shs").as("shs")) else Nil) ++:
      (0 until nBands).map(k => col(s"q.mh$k").as(s"mh$k"))
    withToks(documents(s, dir))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), expr("minhash_sig(toks)").as("q"))
      .select(flat: _*)
  }

  /** doc_id, mh0..mh3 minhash signature frame — map-only, no exchange. */
  private[operators] def signatures(s: SparkSession, dir: String): DataFrame =
    sigFrame(s, dir, withSet = false)

  private[operators] val signatureSql: String = {
    val cols = (0 until nBands).map(k => s"min(${bandSliceSql(k)}) AS mh$k").mkString(", ")
    s"sig AS (SELECT doc_id, $cols FROM sh GROUP BY doc_id)"
  }

  def queries: Vector[Q] = Vector(
    // ---- exact dedup (hash groupBy on content) -----------------------
    // The group key is the 64-bit content hash, not the text: the
    // shuffle ships (8B, doc_id) pairs instead of whole documents —
    // the industry-standard exact-dedup shape at corpus scale. Same
    // collision contract as the near-dup family: the oracle groups by
    // RAW text, so a 2^-64 collision fails the gate loudly instead of
    // silently merging two documents.
    Q("q25_dedup_exact",
      (s, dir) => {
        import s.implicits._
        documents(s, dir)
          .groupBy(xxhash64($"text").as("h"))
          .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .select($"keep_id", $"n_copies")
          .orderBy($"keep_id")
      },
      Some("""
        SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM documents GROUP BY text ORDER BY keep_id""")),

    // ---- deterministic keep-first dedup ------------------------------
    // dropDuplicates keeps an arbitrary row per key; the scalable
    // deterministic form is row_number over (key ORDER BY tiebreak) = 1
    Q("q56_keep_first",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"lang", $"source").orderBy($"doc_id")
        documents(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"doc_id", $"lang", $"source", $"n_chars")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id, lang, source, n_chars FROM (
          SELECT doc_id, lang, source, n_chars,
            ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
          FROM documents) t
        WHERE rn = 1 ORDER BY doc_id""")),

    // ---- minhash signatures ------------------------------------------
    // localCheckpoint before the global sort: RangePartitioning's
    // bounds-sampling pass re-executes its child, which would run the
    // whole signature kernel twice; checkpointing the (narrow,
    // doc-count-sized) signature frame makes the sample read a
    // materialized block instead.
    Q("q26_minhash_signature",
      (s, dir) => signatures(s, dir).localCheckpoint(true).orderBy(col("doc_id")),
      Some(s"""$shingleCte, $signatureSql
        SELECT * FROM sig ORDER BY doc_id""")),

    // ---- minhash LSH candidates + n-gram Jaccard verification --------
    Q("q27_minhash_dup_pairs",
      (s, dir) => {
        import s.implicits._
        nearDupPairs(s, dir)
          .filter(round($"jraw", 6) >= 0.5)
          .select($"ida", $"idb", round($"jraw", 6).as("jaccard"))
          .orderBy($"ida", $"idb")
      },
      Some(s"""$shingleCte, $signatureSql,
        $bandsCteSql,
        $dshCardCteSql,
        $lshPairsCteSql
        SELECT ida, idb, jacc AS jaccard FROM lshp
        ORDER BY ida, idb""")),

    // ---- composed training-data prep pipeline ------------------------
    // The 100 TB use case end-to-end: exact dedup (keep lowest id per
    // text) -> near-dup removal (minhash-LSH candidates verified by
    // jaccard >= 0.5, higher id of each pair dropped) -> quality gate.
    // Every stage is the operator already verified standalone; this
    // query checks their composition against one oracle.
    Q("q58_training_prep",
      (s, dir) => {
        import s.implicits._
        val docs = documents(s, dir)
        // stage 1: exact dedup — keyed by content hash like q25 (the
        // shuffle never ships document text; oracle groups raw text)
        val keepExact = docs.groupBy(xxhash64($"text").as("h"))
          .agg(min($"doc_id").as("doc_id"))
          .select($"doc_id")
        // stage 2: near-dup pairs (same construction as q27)
        val nearDupLosers = nearDupPairs(s, dir)
          .filter(round($"jraw", 6) >= 0.5)
          .select($"idb".as("doc_id")).distinct()
        // stage 3: quality gate (same formula as q30) — the shared
        // [[qualityScores]] frame (also feeds q88's funnel)
        val quality = qualityScores(s, dir)
        keepExact
          .join(nearDupLosers, Seq("doc_id"), "left_anti")
          .join(quality, "doc_id")
          .filter(round($"quality", 6) >= 0.4)
          .orderBy($"doc_id")
      },
      Some(s"""$shingleCte, $signatureSql,
        $bandsCteSql,
        cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
                 FROM bands a JOIN bands b ON a.band = b.band AND a.sg = b.sg AND a.doc_id < b.doc_id),
        dsh AS (SELECT DISTINCT doc_id, s FROM sh),
        card AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
        losers AS (SELECT DISTINCT i2.idb AS doc_id
                   FROM (SELECT c.ida, c.idb, COUNT(*) AS i
                         FROM cand c JOIN dsh x ON x.doc_id = c.ida
                         JOIN dsh y ON y.doc_id = c.idb AND y.s = x.s
                         GROUP BY c.ida, c.idb) i2
                   JOIN card ca ON ca.doc_id = i2.ida JOIN card cb ON cb.doc_id = i2.idb
                   WHERE ROUND(CAST(i2.i AS DOUBLE) / (ca.n + cb.n - i2.i), 6) >= 0.5),
        keep_exact AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
        $qualityCte
        SELECT k.doc_id, q.n_tokens, q.quality
        FROM keep_exact k
        JOIN quality q ON q.doc_id = k.doc_id
        WHERE k.doc_id NOT IN (SELECT doc_id FROM losers)
          AND q.quality >= 0.4
        ORDER BY k.doc_id""")),

    // ---- simhash fingerprints ----------------------------------------
    Q("q28_simhash",
      (s, dir) => simhashes(s, dir).orderBy(col("doc_id")),
      Some(s"""${simhashCte()}
        SELECT doc_id, simhash FROM sims ORDER BY doc_id""")),

    // ---- simhash near-dup pairs (hamming-band LSH) --------------------
    // Charikar pairing at scale: never all-pairs, and no token shuffle
    // either — fingerprints come from the per-row `simhash64` kernel
    // (map-only, see q63), so the ONLY shuffled payload is 8 bytes per
    // doc. The 64-bit fingerprint splits into 2 unsigned 32-bit
    // half-bands; by pigeonhole, any pair within hamming distance 1
    // agrees on at least one whole half, so the (band, half) equi-join
    // surfaces EVERY such pair (exact recall, not probabilistic) and
    // popcount verifies. Collision work is bounded by band-bucket size,
    // same shape as the minhash LSH join (q27).
    Q("q61_simhash_pairs",
      (s, dir) => {
        import s.implicits._
        // token-less docs are excluded BEFORE banding: simhash64([]) = 0,
        // so every empty/punctuation-only doc would otherwise share one
        // (band, 0) mega-bucket and pair quadratically at hamming 0 —
        // same routing decision as the minhash path (sub-3-token docs
        // belong to exact dedup, not near-dup)
        val sims = TextAnalysis.withToksNe(documents(s, dir))
          .filter(size($"toks_ne") > 0)
          .select($"doc_id", expr("simhash64(toks_ne)").as("simhash"))
        // unsigned halves: & masks off sign-extension, so both engines
        // see the same band values even when bit 63 is set
        val bands = sims.selectExpr("doc_id", "simhash",
          halfBandsSql("simhash"))
        bands.as("sa").join(bands.as("sb"),
            col("sa.band") === col("sb.band") && col("sa.half") === col("sb.half") &&
            col("sa.doc_id") < col("sb.doc_id"))
          .select(col("sa.doc_id").as("ida"), col("sb.doc_id").as("idb"),
            col("sa.simhash").as("ha"), col("sb.simhash").as("hb"))
          .distinct()
          .select($"ida", $"idb", expr("CAST(bit_count(ha ^ hb) AS INT)").as("hamming"))
          .filter($"hamming" <= 1)
          .orderBy($"ida", $"idb")
      },
      Some(s"""$simhash64Cte,
        nonempty AS (SELECT s2.doc_id, s2.u, s2.simhash FROM sims s2
                     JOIN toksc ON toksc.doc_id = s2.doc_id WHERE len(toksc.toks) > 0),
        bands AS (SELECT doc_id, simhash, 0 AS band, CAST(u % 4294967296 AS BIGINT) AS half FROM nonempty
                  UNION ALL
                  SELECT doc_id, simhash, 1 AS band, CAST(u // 4294967296 AS BIGINT) AS half FROM nonempty),
        cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb, a.simhash AS ha, b.simhash AS hb
                 FROM bands a JOIN bands b ON a.band = b.band AND a.half = b.half AND a.doc_id < b.doc_id)
        SELECT ida, idb, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(ha, hb)) <= 1
        ORDER BY ida, idb""")),

    // ---- connected components over near-dup pairs ---------------------
    // The principled clustering step after LSH pairing: near-duplicate
    // is not transitive-closed pairwise (a~b, b~c does not imply the
    // (a,c) pair was emitted), so real dedup groups pairs into
    // components and keeps one doc per component. Spark side: min-label
    // propagation — per iteration one equi-join + min-aggregate, with
    // localCheckpoint truncating the lineage (the standard distributed
    // CC shape; iterations = component diameter, one Spark job per
    // round carrying both the propagation and the changed-label
    // convergence count). Oracle: a recursive-CTE transitive closure in
    // DuckDB — a completely different algorithm, same components.
    Q("q66_dup_components",
      (s, dir) => components(s, dir).orderBy(col("doc_id")),
      Some(s"""$componentsCte
        SELECT doc_id, component FROM comp ORDER BY doc_id""")),

    // ---- component-canonical dedup (the final corpus) -----------------
    // The principled keep-one-per-cluster output: q66's components
    // decide survivorship — a doc survives iff it is not a non-minimal
    // member of any near-dup component (pair-based removal, as in the
    // early q58 stage, can drop BOTH endpoints of a transitive chain;
    // component-based removal keeps exactly one canonical doc per
    // cluster). Anti-join of the corpus against non-canonical members;
    // the frame's size is the corpus's dup rate, so the join strategy
    // is LEFT TO THE OPTIMIZER — AQE broadcasts when it is actually
    // small and falls back to a shuffle anti-join on a dup-heavy
    // corpus (an unconditional broadcast() hint would drive-collect an
    // O(corpus) frame and OOM exactly when dedup matters most).
    Q("q79_canonical_corpus",
      (s, dir) => {
        import s.implicits._
        val nonCanonical = components(s, dir)
          .filter($"doc_id" =!= $"component")
          .select($"doc_id")
        documents(s, dir)
          .join(nonCanonical, Seq("doc_id"), "left_anti")
          .select($"doc_id", $"lang", $"source")
          .orderBy($"doc_id")
      },
      Some(s"""$componentsCte
        SELECT d.doc_id AS doc_id, d.lang AS lang, d.source AS source
        FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM comp c
                          WHERE c.doc_id = d.doc_id AND c.doc_id <> c.component)
        ORDER BY doc_id""")),

    // ---- cross-corpus exact-substring dedup (stride-1 windows) -------
    // q119 measures DISJOINT 8-token segments, which misses duplicated
    // passages that straddle a segment boundary or start mid-segment —
    // the precise failure mode ExactSubstr dedup (Lee et al.,
    // "Deduplicating Training Data Makes Language Models Better",
    // ACL '22) addresses with suffix arrays. The relational
    // equivalent: EVERY k-token window (stride 1) is keyed by its full
    // md5; a window occurring more than once corpus-wide (within-doc
    // repeats count, as in the paper) marks its k positions
    // duplicated; per doc, overlapping-or-adjacent marked intervals
    // coalesce into maximal spans (gaps-and-islands over position — a
    // break is a position gap > k), whose union is the doc's
    // duplicated-token coverage. k = 16 versus the paper's 50 because
    // this corpus averages ~54 tokens/doc.
    //
    // Scale: the window stream is token-scale with a fixed-width
    // (32-hex + int) payload; the occurrence aggregate
    // partial-combines (a boilerplate window repeated 1e9 times
    // contributes ONE row per input partition to its exchange); the
    // occ > 1 filter runs BEFORE the join-back, so the probe side
    // carries duplicated keys only; the island windows partition by
    // doc_id (state bounded by doc length); both join sides are
    // corpus-derived — no broadcast hint (SCALE_DESIGN rule 2; the
    // optimizer still broadcasts the filtered key set when its
    // estimate says it is small, and falls back to a shuffle join on
    // a dup-heavy corpus). The window stream is GENERATED twice (the
    // occ side and the probe side) and documents scanned three times
    // (those two plus the n_toks frame) — deliberate: the md5 window
    // keys are map-only recompute, and the alternatives are worse at
    // scale — a q27-style shared exchange would ship the token-scale
    // (doc_id, pos, h) stream through a shuffle that the partial-
    // combined occ aggregate avoids entirely, and a localCheckpoint
    // would materialize the same token-scale stream to the block
    // store. Plan check: the doc_id exchange feeds lag, running-sum,
    // span groupBy AND per-doc groupBy with no further exchange
    // (partitioning is preserved through all four).
    Q("q156_exact_substr",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val k = 16
        // r14 (guide §2.6, executed metrics): the deliberately
        // recomputed window stream ran its tokenize+gram+md5 build as
        // THREE ~0.8 s SERIAL stages off the single-row-group scan
        // (~2.3 s of the query's 2.2 s min was serial map time).
        // Spreading the 1.5 MB of docs by doc_id parallelizes all
        // three consumers while keeping the recompute-over-shuffle
        // design (the occ aggregate still partial-combines; the
        // doc_id windows still reuse one exchange downstream).
        val base = withToks(documents(s, dir)
          .repartition(s.sparkContext.defaultParallelism, $"doc_id"))
        // FULL 128-bit digest, unlike q119's 16-hex idiom: q156's key
        // population is stride-1 (token-scale — 1e12 windows at
        // 100 TB), where a 64-bit key has a real birthday-collision
        // probability (~3% at 1e9 keys) that would silently mark
        // unique windows duplicated; at 2^128 the bound is negligible
        // at any corpus size. Any residual collision is still
        // cross-engine-identical (same md5 both sides), so the oracle
        // could never diverge — only the exactness claim could.
        val wins = base
          .select($"doc_id", posexplode(expr(gramArraySql(k))))
          .select($"doc_id", $"pos", md5($"col").as("h"))
        val dupKeys = wins.groupBy($"h").agg(count(lit(1)).as("occ"))
          .filter($"occ" > 1).select($"h")
        val w = Window.partitionBy($"doc_id").orderBy($"pos")
        val isl = wins.join(dupKeys, "h")
          .select($"doc_id", $"pos")
          .withColumn("brk",
            when(lag($"pos", 1).over(w).isNull ||
              $"pos" - lag($"pos", 1).over(w) > k, 1).otherwise(0))
          .withColumn("island", sum($"brk").over(w))
        val spans = isl.groupBy($"doc_id", $"island")
          .agg(min($"pos").as("sp"), (max($"pos") + lit(k - 1)).as("ep"))
        val perDoc = spans.groupBy($"doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum($"ep" - $"sp" + 1).as("dup_toks"),
            max($"ep" - $"sp" + 1).cast("long").as("max_span"))
        base.select($"doc_id", size($"toks").cast("long").as("n_toks"))
          .join(perDoc, Seq("doc_id"), "left")
          .select($"doc_id", $"n_toks",
            coalesce($"n_spans", lit(0L)).as("n_spans"),
            coalesce($"dup_toks", lit(0L)).as("dup_toks"),
            coalesce($"max_span", lit(0L)).as("max_span"),
            round(coalesce($"dup_toks", lit(0L)).cast(DoubleType) / $"n_toks", 6)
              .as("dup_frac"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH $toksCteSql,
        wins AS (SELECT doc_id, i AS pos,
            md5(array_to_string(list_slice(w, i + 1, i + 16), ' ')) AS h
          FROM toksc, UNNEST(range(0, len(w) - 15)) AS t(i)),
        dupk AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) > 1),
        dup AS (SELECT doc_id, pos FROM wins JOIN dupk USING (h)),
        brks AS (SELECT doc_id, pos,
            CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                   OR pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 16
                 THEN 1 ELSE 0 END AS brk
          FROM dup),
        isl AS (SELECT doc_id, pos,
            SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM brks),
        spans AS (SELECT doc_id, island, MIN(pos) AS sp, MAX(pos) + 15 AS ep
          FROM isl GROUP BY doc_id, island),
        per_doc AS (SELECT doc_id,
            CAST(COUNT(*) AS BIGINT) AS n_spans,
            CAST(SUM(ep - sp + 1) AS BIGINT) AS dup_toks,
            CAST(MAX(ep - sp + 1) AS BIGINT) AS max_span
          FROM spans GROUP BY doc_id)
        SELECT t.doc_id AS doc_id, CAST(len(t.w) AS BIGINT) AS n_toks,
          COALESCE(p.n_spans, 0) AS n_spans,
          COALESCE(p.dup_toks, 0) AS dup_toks,
          COALESCE(p.max_span, 0) AS max_span,
          ROUND(CAST(COALESCE(p.dup_toks, 0) AS DOUBLE) / len(t.w), 6) AS dup_frac
        FROM toksc t LEFT JOIN per_doc p USING (doc_id)
        ORDER BY doc_id""")),

    // ---- corpus-level line/paragraph boilerplate removal (q191, r9) --
    // C4/CCNet-style: drop every LINE occurring in >= 3 DISTINCT
    // documents — headers, nav bars, license banners. The corpus has
    // no newlines (single-line token soup), so "line" is the
    // deterministic stand-in both engines can compute: the aligned
    // non-overlapping 10-token block (the last block may be short) —
    // the line-level sibling of q156's stride-1 token windows.
    // Published per doc: line/ token censuses before and after
    // removal, so the mixture designer sees exactly how much mass
    // boilerplate removal takes from each document.
    //
    // Scale contract (the q70/q117 DF-cap discipline): blocks collapse
    // to md5 digests FIRST and the document-frequency census is ONE
    // partial-combined exchange on the 128-bit key (COUNT(DISTINCT
    // doc_id) per key — the distinct is per-key-bounded, never
    // corpus-global); the flag-back is a left-semi hash join on the
    // same key. Whole documents never shuffle; nothing is quadratic.
    // Aligned blocks (not stride-1) keep the key population at
    // n_toks/10 per doc — 10x smaller than q156's window set.
    Q("q191_boilerplate_lines",
      (s, dir) => {
        import s.implicits._
        val L = 10
        val minDf = 3
        val base = withToks(documents(s, dir))
        // the same transform(array(toks), __tk -> …)[0] let-binding as
        // gramArraySql: toks must not re-split per block reference
        val blocksSql = s"""transform(array(toks), __tk ->
            CASE WHEN size(__tk) > 0
            THEN transform(sequence(0, CAST(ceil(size(__tk) / ${L}.0) AS INT) - 1),
                   p -> concat_ws(' ', slice(__tk, p * $L + 1, $L)))
            ELSE CAST(array() AS ARRAY<STRING>) END)[0]"""
        val lines = base
          .select($"doc_id", size($"toks").as("n_toks"),
            posexplode(expr(blocksSql)).as(Seq("pos", "line")))
          .select($"doc_id", $"pos", md5($"line").as("h"),
            least(lit(L), $"n_toks" - $"pos" * L).cast("long").as("ltoks"))
        val bp = lines.groupBy($"h")
          .agg(countDistinct($"doc_id").as("df"))
          .filter($"df" >= minDf).select($"h")
        // The flag-back semi join stays UN-hinted by measurement, not
        // default: a shuffle_hash pin (the q27 discipline) was tried
        // and is 4x SLOWER at 100x, twice reproduced interleaved
        // (30.3/23.5 s hinted vs 6.7/7.4 s AQE-SMJ mins,
        // docs/PLANS_r9.md) — the md5-key sort is cheap on the
        // already-shuffled line frame and the semi-merge
        // short-circuits, while the hash build pays per-partition
        // setup across 256 partitions for a probe that is mostly hits
        // on this dup-heavy corpus.
        val removed = lines.join(bp, Seq("h"), "left_semi")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("removed_lines"), sum($"ltoks").as("removed_toks"))
        base.select($"doc_id", size($"toks").cast("long").as("n_toks"),
            ceil(size($"toks") / (L * 1.0)).cast("long").as("n_lines"))
          .join(removed, Seq("doc_id"), "left")
          .select($"doc_id", $"n_lines",
            coalesce($"removed_lines", lit(0L)).as("removed_lines"),
            ($"n_lines" - coalesce($"removed_lines", lit(0L))).as("kept_lines"),
            $"n_toks",
            coalesce($"removed_toks", lit(0L)).as("removed_toks"),
            ($"n_toks" - coalesce($"removed_toks", lit(0L))).as("kept_toks"),
            round(coalesce($"removed_toks", lit(0L)).cast(DoubleType)
              / greatest($"n_toks", lit(1L)), 6).as("removed_frac"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH $toksCteSql,
        lines AS (SELECT doc_id, p AS pos,
            md5(array_to_string(list_slice(w, p * 10 + 1, p * 10 + 10), ' ')) AS h,
            LEAST(10, len(w) - p * 10) AS ltoks
          FROM toksc, UNNEST(range(0, CAST(CEIL(len(w) / 10.0) AS BIGINT))) AS t(p)),
        bp AS (SELECT h FROM lines GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 3),
        removed AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS removed_lines,
            CAST(SUM(ltoks) AS BIGINT) AS removed_toks
          FROM lines JOIN bp USING (h) GROUP BY doc_id),
        census AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_toks,
            CAST(CEIL(len(w) / 10.0) AS BIGINT) AS n_lines FROM toksc)
        SELECT c.doc_id, c.n_lines,
          COALESCE(r.removed_lines, 0) AS removed_lines,
          c.n_lines - COALESCE(r.removed_lines, 0) AS kept_lines,
          c.n_toks,
          COALESCE(r.removed_toks, 0) AS removed_toks,
          c.n_toks - COALESCE(r.removed_toks, 0) AS kept_toks,
          ROUND(CAST(COALESCE(r.removed_toks, 0) AS DOUBLE)
            / GREATEST(c.n_toks, 1), 6) AS removed_frac
        FROM census c LEFT JOIN removed r USING (doc_id)
        ORDER BY c.doc_id""")),

    // ---- cross-source duplication flow matrix (q170, new r7) ---------
    // The provenance complement of q25's exact dedup and q98's lexical
    // overlap: for EVERY source pair, how many exact-content groups
    // the two sources share and how many doc copies each side
    // contributes — the table a mixture designer reads to find mirror
    // sites, scraped re-posts and licensing double-counts before
    // weighting sources independently. The full |S|x|S|/2 grid is
    // published (zero rows included, q98's contract) so an empty cell
    // is an assertion, not an absence.
    //
    // Scale: content collapses to (xxhash64, source) counts FIRST —
    // one 8B-key partial-combined exchange, whole documents never
    // shuffle (the q25 shape); the flow join is hash-keyed equi on
    // that collapsed frame, bounded by cross-source dup density; the
    // source grid is |sources|^2 metadata (BNLJ, whitelisted). The
    // oracle groups by RAW text, so a 2^-64 collision fails the gate
    // loudly (the established contract).
    Q("q170_dup_flow",
      (s, dir) => {
        import s.implicits._
        val hs = documents(s, dir)
          .groupBy(xxhash64($"text").as("h"), $"source")
          .agg(count(lit(1)).as("n"))
        val flows = hs.as("a")
          .join(hs.as("b"), $"a.h" === $"b.h" && $"a.source" < $"b.source")
          .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
          .agg(count(lit(1)).as("shared_groups"),
            sum($"a.n").as("docs_a"), sum($"b.n").as("docs_b"))
        val srcs = documents(s, dir).select($"source").distinct()
        val grid = srcs.select($"source".as("src_a"))
          .join(srcs.select($"source".as("src_b")), $"src_a" < $"src_b")
        grid.join(flows, Seq("src_a", "src_b"), "left")
          .select($"src_a", $"src_b",
            coalesce($"shared_groups", lit(0L)).as("shared_groups"),
            coalesce($"docs_a", lit(0L)).as("docs_a"),
            coalesce($"docs_b", lit(0L)).as("docs_b"))
          .orderBy($"src_a", $"src_b")
      },
      Some("""
        WITH hs AS (SELECT text, source, CAST(COUNT(*) AS BIGINT) AS n
                    FROM documents GROUP BY 1, 2),
        flows AS (SELECT a.source AS src_a, b.source AS src_b,
                    CAST(COUNT(*) AS BIGINT) AS shared_groups,
                    CAST(SUM(a.n) AS BIGINT) AS docs_a,
                    CAST(SUM(b.n) AS BIGINT) AS docs_b
                  FROM hs a JOIN hs b ON a.text = b.text AND a.source < b.source
                  GROUP BY 1, 2),
        srcs AS (SELECT DISTINCT source FROM documents)
        SELECT x.source AS src_a, y.source AS src_b,
          COALESCE(f.shared_groups, 0) AS shared_groups,
          COALESCE(f.docs_a, 0) AS docs_a,
          COALESCE(f.docs_b, 0) AS docs_b
        FROM srcs x JOIN srcs y ON x.source < y.source
        LEFT JOIN flows f ON f.src_a = x.source AND f.src_b = y.source
        ORDER BY src_a, src_b""")),

    // ---- incremental-ingest dedup (q171, new r7) ----------------------
    // The production ingestion step the whole-corpus q25 doesn't model:
    // a NEW BATCH (here: the last 20% of the id range — the cutoff is
    // derived, not hardcoded, so the query scales with the corpus)
    // arrives against an EXISTING corpus, and each new doc is
    // classified: dup_corpus (content already in the old corpus —
    // corpus membership wins over batch position), dup_batch (batch-
    // internal duplicate that is not the batch-first occurrence), or
    // kept. Published per source, so the ingest report shows which
    // feeds are re-sending content.
    //
    // Scale: ONE parquet scan — the slim (doc_id, source, hash) frame
    // is eagerly localCheckpointed (the q26 signature-frame precedent:
    // ~24 B/row) and the cutoff scalar, the old-corpus index and the
    // new batch all read those blocks instead of re-scanning. The old
    // corpus collapses to DISTINCT 8-byte hashes (the dedup index —
    // the batch never joins raw old documents); the batch collapses to
    // (hash, source) copy counts BEFORE classification, so the
    // batch-first election and both joins run at distinct-content
    // scale, never doc scale (the first plan shape paid two doc-level
    // joins + 4 scans — caught by the PlanDump audit, docs/PLANS_r7.md).
    // The streaming form of exactly this operator is
    // StreamOps.dedupAgainstIndex / incremental dedup; this is the
    // batch form under the oracle gate. Oracle groups raw text — the
    // q25 collision contract — and classifies per doc, a different
    // strategy than the collapsed-count arithmetic it checks.
    Q("q171_incremental_ingest",
      (s, dir) => {
        import s.implicits._
        val d = documents(s, dir)
          .select($"doc_id", $"source", xxhash64($"text").as("h"))
          .localCheckpoint(true)
        val cut = d.agg(expr("(MAX(doc_id) + 1) * 8 DIV 10").as("cut"))
        val dc = d.crossJoin(broadcast(cut))
        val old = dc.filter($"doc_id" < $"cut").select($"h").distinct()
          .withColumn("in_old", lit(1L))
        val hsNew = dc.filter($"doc_id" >= $"cut")
          .groupBy($"h", $"source")
          .agg(count(lit(1)).as("n"), min($"doc_id").as("mn"))
        val firsts = hsNew.groupBy($"h").agg(min($"mn").as("fid"))
        hsNew.join(firsts, "h").join(old, Seq("h"), "left")
          .select($"source", $"n",
            when($"in_old".isNotNull, $"n").otherwise(0L).as("dc_"),
            when($"in_old".isNull && $"mn" === $"fid", 1L).otherwise(0L).as("k_"))
          .groupBy($"source").agg(
            sum($"n").as("n_new"),
            sum($"dc_").as("dup_corpus"),
            (sum($"n") - sum($"dc_") - sum($"k_")).as("dup_batch"),
            sum($"k_").as("kept"))
          .orderBy($"source")
      },
      Some("""
        WITH c AS (SELECT (MAX(doc_id) + 1) * 8 // 10 AS cut FROM documents),
        o AS (SELECT DISTINCT text FROM documents, c WHERE doc_id < cut),
        nw AS (SELECT doc_id, source, text FROM documents, c WHERE doc_id >= cut),
        f AS (SELECT text, MIN(doc_id) AS first_id FROM nw GROUP BY text),
        cls AS (SELECT nw.source,
            CASE WHEN o.text IS NOT NULL THEN 'dup_corpus'
                 WHEN nw.doc_id <> f.first_id THEN 'dup_batch'
                 ELSE 'kept' END AS cls
          FROM nw JOIN f USING (text) LEFT JOIN o ON o.text = nw.text)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_new,
          CAST(SUM(CASE WHEN cls = 'dup_corpus' THEN 1 ELSE 0 END) AS BIGINT) AS dup_corpus,
          CAST(SUM(CASE WHEN cls = 'dup_batch' THEN 1 ELSE 0 END) AS BIGINT) AS dup_batch,
          CAST(SUM(CASE WHEN cls = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS kept
        FROM cls GROUP BY source ORDER BY source""")),

    // ---- near-dup cluster-size histogram (q176, new r7) --------------
    // The dedup-QA dashboard table: the distribution of q66 component
    // sizes in power-of-two buckets, plus the singleton mass (docs in
    // NO near-dup pair — bucket 0 by construction, since every
    // clustered component has >= 2 members). This is the table that
    // exposes a degenerate clustering instantly: round 5's LSH cliff
    // announced itself as one 94,000-doc band bucket — on this
    // histogram that is a lone row at bucket 16 with max_size 94k,
    // visible before any join stalls. Composes the SAME components
    // frame/oracle CTE as q66/q79, so it audits the clustering the
    // engine actually ships.
    //
    // Determinism: the log2 bucket is the binary-digit count of the
    // integer size (length(bin(sz)) - 1) — pure integer/string ops,
    // identical in both engines; no libm log. Scale: component sizes
    // are one partial-combined count over the (pair-graph-sized) comp
    // frame; the histogram is <= 64 rows; the singleton row derives
    // from two 1-row counts.
    Q("q176_cluster_size_histogram",
      (s, dir) => {
        import s.implicits._
        // the components pipeline (LSH + label prop) runs ONCE: the
        // <=64-row histogram is eagerly checkpointed, and the
        // clustered-doc total the singleton row needs is DERIVED from
        // it (sum of n_docs) instead of re-counting the comp frame —
        // the first shape called components() twice and measured ~2x
        // q66's full cost at 10x
        val hist = components(s, dir)
          .groupBy($"component").agg(count(lit(1)).as("sz"))
          .withColumn("bucket", (length(bin($"sz")) - 1).cast(IntegerType))
          .groupBy($"bucket").agg(
            count(lit(1)).as("n_clusters"),
            sum($"sz").as("n_docs"),
            max($"sz").as("max_size"))
          .localCheckpoint(true)
        val inComp = hist.agg(coalesce(sum($"n_docs"), lit(0L)).as("nc"))
        val singles = documents(s, dir).agg(count(lit(1)).as("nd"))
          .crossJoin(broadcast(inComp))
          .select(lit(0).as("bucket"),
            ($"nd" - $"nc").as("n_clusters"),
            ($"nd" - $"nc").as("n_docs"),
            when($"nd" > $"nc", 1L).otherwise(0L).as("max_size"))
        hist.unionByName(singles)
          .withColumn("size_lo", expr("shiftleft(CAST(1 AS BIGINT), bucket)"))
          .select($"bucket", $"size_lo", $"n_clusters", $"n_docs", $"max_size")
          .orderBy($"bucket")
      },
      Some(s"""$componentsCte,
        sizes AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS sz
                  FROM comp GROUP BY component),
        hist AS (SELECT CAST(length(bin(sz)) - 1 AS INT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_clusters,
                   CAST(SUM(sz) AS BIGINT) AS n_docs,
                   CAST(MAX(sz) AS BIGINT) AS max_size
                 FROM sizes GROUP BY 1),
        sing AS (SELECT CAST(0 AS INT) AS bucket,
                   CAST((SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM comp) AS BIGINT) AS n_clusters,
                   CAST((SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM comp) AS BIGINT) AS n_docs,
                   CAST(CASE WHEN (SELECT COUNT(*) FROM documents) > (SELECT COUNT(*) FROM comp)
                        THEN 1 ELSE 0 END AS BIGINT) AS max_size),
        allb AS (SELECT * FROM hist UNION ALL SELECT * FROM sing)
        SELECT bucket, CAST(1::BIGINT << bucket AS BIGINT) AS size_lo,
          n_clusters, n_docs, max_size
        FROM allb ORDER BY bucket""")),

    // ---- quality-score calibration vs dup-ness (q177, new r7) --------
    // The model-card table that decides whether the q30 quality score
    // earns its threshold: per 0.1-wide quality band — doc count,
    // near-dup members (q66 components, doc != component), mean token
    // length, English count, dup fraction. If the low bands are not
    // measurably dirtier (more duplicated, shorter), the score is
    // noise and every quality-gated stage downstream (q58, q88) is
    // filtering on it anyway — this is the audit that catches that
    // BEFORE a training run does. Banding is value-based integer math
    // on the already-rounded score (floor(q*10) — no rank windows, no
    // libm); the mean rides davg's exact-decimal contract.
    //
    // Scale: ONE corpus scan computes quality + lang together
    // (withQuality is map-only); the only other input is the q66
    // components frame (dup-bounded — the priced dependency, as in
    // q176); one left join + one partial-combined band aggregate.
    Q("q177_quality_calibration",
      (s, dir) => {
        import s.implicits._
        val q = withQuality(withToks(documents(s, dir)))
          .filter($"quality".isNotNull)
          .select($"doc_id", $"lang", $"n_tokens", $"quality")
        val dupm = components(s, dir).filter($"doc_id" =!= $"component")
          .select($"doc_id").withColumn("is_dup", lit(1L))
        q.join(dupm, Seq("doc_id"), "left")
          .withColumn("band", floor($"quality" * 10).cast(IntegerType))
          .groupBy($"band").agg(
            count(lit(1)).as("n_docs"),
            sum(coalesce($"is_dup", lit(0L))).as("dup_docs"),
            round(davg($"n_tokens".cast(DoubleType), 6), 6).as("mean_tokens"),
            sum(when($"lang" === "en", 1L).otherwise(0L)).as("en_docs"))
          .withColumn("dup_frac",
            round($"dup_docs".cast(DoubleType) / $"n_docs", 6))
          .orderBy($"band")
      },
      Some(s"""$componentsCte,
        $qualityCte,
        dupm AS (SELECT doc_id FROM comp WHERE doc_id <> component),
        j AS (SELECT q.doc_id, q.n_tokens, q.quality, d.lang,
                CASE WHEN dm.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
              FROM quality q JOIN documents d USING (doc_id)
              LEFT JOIN dupm dm ON dm.doc_id = q.doc_id)
        SELECT CAST(FLOOR(quality * 10) AS INT) AS band,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(is_dup) AS BIGINT) AS dup_docs,
          ROUND(${davgSql("CAST(n_tokens AS DOUBLE)", 6)}, 6) AS mean_tokens,
          CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en_docs,
          ROUND(CAST(SUM(is_dup) AS DOUBLE) / COUNT(*), 6) AS dup_frac
        FROM j GROUP BY 1 ORDER BY band""")),

    // ---- preference-pair construction (q184, new r7) -----------------
    // The DPO/reward-model data builder: within each verified near-dup
    // cluster (q66 components — same content, different tellings), the
    // highest-quality member becomes `chosen` and the lowest-quality
    // member `rejected`, with the quality margin published so the
    // trainer can weight or threshold pairs. Near-dup clusters are the
    // one place preference pairs come for free at corpus scale: the
    // members agree on content (so the pair isolates FORM quality),
    // which is exactly the contrast a style/quality reward model needs.
    // Election contract (engine-independent, spec-pinned): chosen =
    // max quality, ties broken to the SMALLEST doc_id; rejected = min
    // quality, ties to the LARGEST doc_id — so a ≥2-member cluster can
    // never elect the same doc twice, even when all qualities tie.
    //
    // Scale: the components frame is the priced dependency (dup-
    // bounded, as q176/q177); both elections ride ONE partial-combined
    // struct-min/max aggregate over it (quality first, negated id
    // second — the (round, cid) discipline of q64 applied to the
    // election), no window, no second corpus scan.
    Q("q184_preference_pairs",
      (s, dir) => {
        import s.implicits._
        val q = withQuality(withToks(documents(s, dir)))
          .filter($"quality".isNotNull)
          .select($"doc_id", $"quality")
        val mem = components(s, dir).join(q, "doc_id")
        mem.groupBy($"component").agg(
            count(lit(1)).as("n_members"),
            max(struct($"quality", (-$"doc_id").as("nid"))).as("ch"),
            min(struct($"quality", (-$"doc_id").as("nid"))).as("rj"))
          .filter($"n_members" >= 2L)
          .select($"component".as("cluster"), $"n_members",
            (-$"ch.nid").as("chosen_doc"),
            round($"ch.quality", 6).as("q_chosen"),
            (-$"rj.nid").as("rejected_doc"),
            round($"rj.quality", 6).as("q_rejected"),
            round($"ch.quality" - $"rj.quality", 6).as("margin"))
          .orderBy($"cluster")
      },
      Some(s"""$componentsCte,
        $qualityCte,
        mem AS (SELECT c.component, c.doc_id, q.quality
                FROM comp c JOIN quality q ON q.doc_id = c.doc_id),
        pe AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members,
                 MAX(quality) AS qmax, MIN(quality) AS qmin
               FROM mem GROUP BY component HAVING COUNT(*) >= 2),
        ch AS (SELECT m.component, MIN(m.doc_id) AS chosen_doc
               FROM mem m JOIN pe ON pe.component = m.component
                 AND m.quality = pe.qmax
               GROUP BY m.component),
        rj AS (SELECT m.component, MAX(m.doc_id) AS rejected_doc
               FROM mem m JOIN pe ON pe.component = m.component
                 AND m.quality = pe.qmin
               GROUP BY m.component)
        SELECT pe.component AS cluster, pe.n_members,
          ch.chosen_doc, ROUND(pe.qmax, 6) AS q_chosen,
          rj.rejected_doc, ROUND(pe.qmin, 6) AS q_rejected,
          ROUND(pe.qmax - pe.qmin, 6) AS margin
        FROM pe JOIN ch ON ch.component = pe.component
        JOIN rj ON rj.component = pe.component
        ORDER BY cluster""")),

    // ---- dedup-threshold dial (q208) ---------------------------------
    // "How much do we delete at τ?" — the curation dial every near-dup
    // pass gets tuned by: from the SAME verified pair frame q27
    // publishes (LSH candidates + exact-Jaccard verification, shared
    // [[nearDupPairs]] so the dial prices exactly the operator it
    // tunes), the pair count and the flagged-doc count at every
    // threshold τ ∈ {0.5, 0.9, 0.95, 0.98, 1.0}. The grid sits where
    // this corpus's dup mass actually lies — MEASURED first (the q200
    // lesson): the verified-Jaccard distribution is bimodal (clones
    // at J ≥ 0.9, background < 0.5; a naive 0.5–0.9 grid is flat at
    // every SF and audits nothing), so the dial resolves the clone
    // regime, and its production read is explicit: lowering τ below
    // 0.9 here buys zero extra dup mass, only background risk. A doc
    // is flagged at τ iff its MAX
    // verified Jaccard ≥ τ (one pair suffices), so the doc leg is a
    // per-doc max then five conditional counts — both curves are
    // non-increasing in τ by construction (spec-pinned), and the gap
    // between them is the dup-cluster-size signal (pairs fall faster
    // than docs when clusters are large).
    //
    // Scale: the pair frame is dup-density-bounded (never all-pairs —
    // the LSH path's contract) and checkpointed once; both legs are
    // single aggregates over it; the publish is a 1-row × 1-row
    // scalar stack (whitelisted class). τ comparisons happen on the
    // 1e-6-rounded Jaccard BOTH engines already agree on.
    Q("q208_dedup_threshold_curve",
      (s, dir) => {
        import s.implicits._
        val taus = Seq(0.5, 0.9, 0.95, 0.98, 1.0)
        val pairs = nearDupPairs(s, dir)
          .withColumn("jacc", round($"jraw", 6))
          .filter($"jacc" >= 0.5)
          .select($"ida", $"idb", $"jacc")
          .localCheckpoint(true)
        def tag(t: Double) = t.toString.replace(".", "_")
        val pa = pairs.agg(
          sum(when($"jacc" >= taus.head, 1L).otherwise(0L)).as(s"p${tag(taus.head)}"),
          taus.tail.map(t =>
            sum(when($"jacc" >= t, 1L).otherwise(0L)).as(s"p${tag(t)}")): _*)
        val perDoc = pairs
          .select(explode(array($"ida", $"idb")).as("doc"), $"jacc")
          .groupBy($"doc").agg(max($"jacc").as("mj"))
        val da = perDoc.agg(
          sum(when($"mj" >= taus.head, 1L).otherwise(0L)).as(s"d${tag(taus.head)}"),
          taus.tail.map(t =>
            sum(when($"mj" >= t, 1L).otherwise(0L)).as(s"d${tag(t)}")): _*)
        val stackExpr = taus.map(t =>
          s"CAST($t AS DOUBLE), p${tag(t)}, d${tag(t)}").mkString(
          s"stack(${taus.size}, ", ", ", ") AS (tau, n_pairs, n_docs_flagged)")
        pa.crossJoin(broadcast(da))
          .selectExpr(stackExpr)
          .orderBy(col("tau"))
      },
      Some {
        val taus = Seq(0.5, 0.9, 0.95, 0.98, 1.0)
        val legs = taus.map(t => s"""
        SELECT CAST($t AS DOUBLE) AS tau,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM lshp WHERE jacc >= $t) AS n_pairs,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM pd WHERE mj >= $t) AS n_docs_flagged""")
        s"""$shingleCte, $signatureSql,
        $bandsCteSql,
        $dshCardCteSql,
        $lshPairsCteSql,
        pd AS (SELECT doc, MAX(jacc) AS mj FROM
                 (SELECT ida AS doc, jacc FROM lshp
                  UNION ALL SELECT idb, jacc FROM lshp) u GROUP BY doc)
        SELECT tau, n_pairs, n_docs_flagged FROM (
        ${legs.mkString("\n        UNION ALL ")}) c
        ORDER BY tau"""
      }),

    // ---- diversity-preserving dedup survivorship (q209) --------------
    // Near-dup removal with a smarter keep rule: q79's canonical
    // corpus keeps the LOWEST ID per dup cluster — blind to where the
    // survivor comes from, so a rare domain's only copies can lose to
    // a mega-source clone and the corpus quietly loses diversity
    // exactly where dedup bites hardest. The diversity rule keeps the
    // member from the SMALLEST source (corpus mass, tie → source name,
    // then doc_id) — the "protect the rare domain" survivorship used
    // when mixture balance matters as much as dup removal. Published
    // per source: total docs, docs caught in dup clusters, and the
    // DROP count under BOTH rules side by side — the delta is the
    // diversity the naive rule was silently destroying. NOTE on the
    // gate corpora: source masses are UNIFORM by construction, so the
    // election there exercises the tie chain (source name, then id);
    // the rare-protection property itself is pinned by a DedupSpec
    // fixture with genuinely skewed masses — a rare source's only
    // copy survives the diversity rule and dies under lowest-id.
    //
    // Scale: clusters are the memoized [[components]] frame (dup-
    // bounded); source mass is a ≤|sources|-row aggregate (metadata —
    // broadcast); both elections are one partial-combined struct-min
    // per cluster (q184's election class); every publish aggregate is
    // source-keyed.
    Q("q209_diversity_dedup",
      (s, dir) => {
        import s.implicits._
        val docs = documents(s, dir).select($"doc_id", $"source")
        val smass = docs.groupBy($"source").agg(count(lit(1)).as("mass"))
        val mem = components(s, dir).join(docs, "doc_id")
          .join(broadcast(smass), "source")
        val keepRare = mem.groupBy($"component")
          .agg(min(struct($"mass", $"source", $"doc_id")).as("k"))
          .select($"component", $"k.doc_id".as("keep_rare"))
        val keepLow = mem.groupBy($"component")
          .agg(min($"doc_id").as("keep_low"))
        val dropped = mem
          .join(keepRare, "component").join(keepLow, "component")
          .groupBy($"source").agg(
            count(lit(1)).as("n_clustered"),
            sum(when($"doc_id" =!= $"keep_rare", 1L).otherwise(0L))
              .as("dropped_diversity"),
            sum(when($"doc_id" =!= $"keep_low", 1L).otherwise(0L))
              .as("dropped_lowid"))
        smass.join(dropped, Seq("source"), "left")
          .na.fill(0L, Seq("n_clustered", "dropped_diversity", "dropped_lowid"))
          .select($"source", $"mass".as("n_docs"), $"n_clustered",
            $"dropped_diversity", $"dropped_lowid")
          .orderBy($"source")
      },
      Some(s"""$componentsCte,
        docs2 AS (SELECT doc_id, source FROM documents),
        smass AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS mass
                  FROM docs2 GROUP BY source),
        mem AS (SELECT c.component, c.doc_id, d.source, m.mass
                FROM comp c JOIN docs2 d ON d.doc_id = c.doc_id
                JOIN smass m ON m.source = d.source),
        kr AS (SELECT component, doc_id AS keep_rare FROM (
                 SELECT component, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY component
                     ORDER BY mass, source, doc_id) AS rk
                 FROM mem) t WHERE rk = 1),
        kl AS (SELECT component, MIN(doc_id) AS keep_low FROM mem
               GROUP BY component),
        dr AS (SELECT m.source,
                 CAST(COUNT(*) AS BIGINT) AS n_clustered,
                 CAST(SUM(CASE WHEN m.doc_id <> kr.keep_rare THEN 1 ELSE 0 END) AS BIGINT)
                   AS dropped_diversity,
                 CAST(SUM(CASE WHEN m.doc_id <> kl.keep_low THEN 1 ELSE 0 END) AS BIGINT)
                   AS dropped_lowid
               FROM mem m JOIN kr ON kr.component = m.component
               JOIN kl ON kl.component = m.component
               GROUP BY m.source)
        SELECT s.source, s.mass AS n_docs,
          COALESCE(dr.n_clustered, CAST(0 AS BIGINT)) AS n_clustered,
          COALESCE(dr.dropped_diversity, CAST(0 AS BIGINT)) AS dropped_diversity,
          COALESCE(dr.dropped_lowid, CAST(0 AS BIGINT)) AS dropped_lowid
        FROM smass s LEFT JOIN dr ON dr.source = s.source
        ORDER BY s.source"""))
  )

  /** Min-label propagation over the verified near-dup pair graph:
    * `(doc_id, component)` for every doc appearing in a pair. Shared
    * by q66 (published labels), q79 (canonical corpus), q176/q177/q184
    * (cluster QA / preference pairs) and q88 (which feeds
    * [[componentsFromPairs]] from its own single corpus pass).
    *
    * Memoized per (session, dir) via [[SessionMemo]]: the ~6-round
    * label-propagation loop is the most expensive shared frame in the
    * repo (100.6 s at 100×), and the five consumers plus bench reps
    * each re-ran it — correct, but the family quintuple-paid it per
    * process. The memo is semantically transparent (the helper is a
    * deterministic function of (session, dir); the threshold is the
    * fixed raw-J ≥ 0.5 contract baked in here) and the cached labels
    * frame is dup-bounded, checkpoint-backed, and session-scoped. */
  private[operators] def components(s: SparkSession, dir: String): DataFrame =
    SessionMemo.get(s, s"dup-components:$dir") {
      import s.implicits._
      componentsFromPairs(s, nearDupPairs(s, dir)
        .filter(round($"jraw", 6) >= 0.5)
        .select($"ida", $"idb"))
    }

  /** The propagation loop over a distinct `(ida, idb)` pair frame.
    *
    * Edges are symmetrized and get a SELF-LOOP per endpoint, so one
    * `join + min` aggregate computes `min(label over N(u) ∪ {u})` —
    * the r3 shape needed a second node-table join (`least(own,
    * nbr-min)`) per round, an extra exchange plus a sort-merge join
    * whose cost grows with the node count at every scale. Convergence
    * piggybacks on the same job: labels only DECREASE (the self-loop
    * makes each round a min over a superset containing the old label),
    * so the fixpoint test is `sum(label)` unchanged — an O(1)-output
    * aggregate instead of a changed-row count over a joined frame.
    * The sum is exact DECIMAL(38,0): 10^12 nodes of 10^18-max ids is
    * 10^30 « 10^38, so "unchanged sum" is "unchanged labels", never a
    * float coincidence. Per round ONE action: the lazy localCheckpoint
    * of the new labels is materialized inside the sum job; the
    * previous round's sum is then one tiny aggregate over its already
    * materialized blocks. */
  private[operators] def componentsFromPairs(s: SparkSession, pairs: DataFrame): DataFrame = {
    import s.implicits._
    val dec = DecimalType(38, 0)
    // LAZY checkpoint: round 1's sum-action materializes edges, the
    // init labels AND the first propagation in ONE job — an eager one
    // here spent a whole extra job boundary on the pair pipeline,
    // whose shuffle stages the four union branches share anyway
    val edges = pairs.union(pairs.select($"idb", $"ida"))
      .union(pairs.select($"ida", $"ida")).union(pairs.select($"idb", $"idb"))
      .toDF("src", "dst")
      .localCheckpoint(false)
    // init IS round 1: min over N(u) ∪ {u} of the identity labeling
    var labels = edges.groupBy($"src").agg(min($"dst").as("label"))
      .select($"src".as("id"), $"label")
      .localCheckpoint(false)
    var prevSum: java.math.BigDecimal = null // lazily computed after round 1 materializes
    var converged = false
    var iters = 0
    val maxIters = 200 // iterations = component diameter; a chain of
                       // drifting near-dups can be long, so the cap
                       // is generous — and hitting it FAILS LOUDLY
                       // below rather than returning wrong components
    while (!converged && iters < maxIters) {
      val next = edges.join(labels, col("dst") === col("id"))
        .groupBy($"src").agg(min($"label").as("label"))
        .select($"src".as("id"), $"label")
        .localCheckpoint(false)
      // sum of an EMPTY label frame is SQL NULL — an empty pair graph
      // (clean corpus) must converge on round 1, not NPE
      val zero = java.math.BigDecimal.ZERO
      val nextSum = Option(next.agg(sum($"label".cast(dec))).head().getDecimal(0)).getOrElse(zero)
      if (prevSum == null) // round 1's job also materialized the init labels
        prevSum = Option(labels.agg(sum($"label".cast(dec))).head().getDecimal(0)).getOrElse(zero)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iters += 1
    }
    require(converged,
      s"components: label propagation did not converge within $maxIters iterations " +
        "(a component's diameter exceeds the cap) — refusing to emit non-minimal labels")
    labels.select($"id".as("doc_id"), $"label".as("component"))
  }

  /** Matching oracle: recursive-CTE transitive closure (a completely
    * different algorithm, same components), ending in
    * `comp(doc_id, component)`. */
  private[operators] lazy val componentsCte: String =
    s"""${shingleCte.replaceFirst("WITH", "WITH RECURSIVE")}, $signatureSql,
        $bandsCteSql,
        cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
                 FROM bands a JOIN bands b ON a.band = b.band AND a.sg = b.sg AND a.doc_id < b.doc_id),
        dsh AS (SELECT DISTINCT doc_id, s FROM sh),
        card AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
        pairs AS (SELECT i2.ida, i2.idb
                  FROM (SELECT c.ida, c.idb, COUNT(*) AS i
                        FROM cand c JOIN dsh x ON x.doc_id = c.ida
                        JOIN dsh y ON y.doc_id = c.idb AND y.s = x.s
                        GROUP BY c.ida, c.idb) i2
                  JOIN card ca ON ca.doc_id = i2.ida JOIN card cb ON cb.doc_id = i2.idb
                  WHERE ROUND(CAST(i2.i AS DOUBLE) / (ca.n + cb.n - i2.i), 6) >= 0.5),
        edges AS (SELECT ida AS src, idb AS dst FROM pairs
                  UNION SELECT idb, ida FROM pairs),
        $closureCompCteSql,
        comp AS (SELECT node AS doc_id, CAST(lbl AS BIGINT) AS component FROM compc)"""

  /** Recursive-closure component CTEs over an in-scope `edges(src,
    * dst)` (symmetrized), ending in `compc(node, lbl)` with lbl =
    * min-reachable id. The SINGLE source of the oracle-side component
    * algorithm, shared by [[componentsCte]] (q66/q79/q88) and
    * `RetrievalOps.entityClustersCteSql` (q166/q167) — a closure-shape
    * fix lands in both oracles or neither. */
  private[graft] val closureCompCteSql: String = """
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        closure AS (SELECT id AS node, id AS reach FROM nodes
                    UNION
                    SELECT c.node, e.dst FROM closure c JOIN edges e ON c.reach = e.src),
        compc AS (SELECT node, MIN(reach) AS lbl FROM closure GROUP BY node)"""

  /** Per-doc quality frame `(doc_id, n_tokens, quality)` — the q30
    * formula (token-count, punctuation-ratio and stopword-ratio
    * blend), shared by q58's gate stage and q88's funnel so the gate
    * can't silently diverge between the two. Empty or token-less docs
    * are dropped up front: a quality gate rejects them by definition
    * and the ratios are undefined (0/0) for them — at 100 TB empty
    * docs DO occur. Map-only per row. */
  private[operators] def qualityScores(s: SparkSession, dir: String): DataFrame = {
    withQuality(withToks(documents(s, dir)))
      .filter(col("quality").isNotNull)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
  }

  /** Adds `wne`, `n_tokens` and the rounded `quality` column (NULL on
    * empty or token-less docs, where the ratios are 0/0-undefined) to
    * a frame carrying `text` + `toks` — the single source of the q30
    * formula, shared by [[qualityScores]] and q88's one-pass funnel
    * frame. */
  private[operators] def withQuality(df: DataFrame): DataFrame =
    df.withColumn("wne", array_remove(col("toks"), ""))
      .withColumn("n_tokens", size(col("wne")).cast(LongType))
      .withColumn("n_punct", length(regexp_replace(col("text"), "[^.!?,;:]", "")).cast(LongType))
      .withColumn("quality", when(length(col("text")) > 0 && size(col("wne")) > 0, round(
        lit(0.4) * least(col("n_tokens").cast(DoubleType) / 200.0, lit(1.0)) +
        lit(0.3) * (lit(1.0) - col("n_punct").cast(DoubleType) / length(col("text"))) +
        lit(0.3) * (expr("count_in_set(wne, array('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))").cast(DoubleType) / col("n_tokens")), 6)))

  /** Matching oracle CTE, ending in `quality(doc_id, n_tokens, quality)`. */
  private[operators] val qualityCte: String =
    """quality AS (SELECT doc_id,
            CAST(len(wne) AS BIGINT) AS n_tokens,
            ROUND(0.4 * LEAST(CAST(len(wne) AS BIGINT) / 200.0, 1.0)
              + 0.3 * (1.0 - CAST(len(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) * 1.0 / len(text))
              + 0.3 * (CAST(len(list_filter(wne, t -> list_contains(['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'], t))) AS BIGINT) * 1.0 / CAST(len(wne) AS BIGINT)), 6) AS quality
          FROM (SELECT doc_id, text,
                  list_filter(string_split_regex(lower(text), '\W+'), t -> len(t) > 0) AS wne
                FROM documents) tq
          WHERE len(text) > 0 AND len(wne) > 0)"""

  /** Per-doc near-dup state with ZERO exchanges: the md5 minhash
    * signature (mh0..mh3, the q26 contract), the doc's DISTINCT
    * shingle set as 64-bit xxhash64 values (`shs`), and its
    * cardinality (`n`) — all via [[sigStructSql]]'s map-side nested
    * HOFs (the r3 form exploded and shuffled every shingle occurrence
    * first; see sigStructSql's scale note). Eagerly checkpointed so
    * the banding branch and both verification join sides read ONE
    * materialization — without it, Catalyst's per-branch column
    * pruning makes the subtrees differ and the scan+signature
    * projection runs two or three times. Set ops (cardinality,
    * intersection) are hash-invariant, so nothing downstream ever
    * touches shingle TEXT (~5x smaller rows; collision odds are
    * ~|doc set|^2/2^65 per doc, and the DuckDB oracle keeps raw text,
    * so a collision FAILS the gate loudly instead of agreeing
    * silently). Row width is bounded by the doc's own distinct-shingle
    * count — the same order as the doc text the corpus already
    * carries. */
  private[operators] def docShingleSets(s: SparkSession, dir: String): DataFrame =
    sigFrame(s, dir, withSet = true)
      .withColumn("n", size(col("shs")).cast(LongType))
      .localCheckpoint(true)

  /** The map-side exact-Jaccard column over two hashed shingle sets —
    * the single source of truth shared by [[nearDupPairs]] and
    * [[verifyJaccard]]. PRECONDITION: both sets sorted ascending (the
    * MinHashSig kernel emits sorted; the collect_set paths wrap in
    * sort_array) — the r5 `intersect_count` two-pointer kernel
    * replaced `size(array_intersect(...))`, whose per-PAIR
    * SQLOpenHashSet build + intersection materialization dominated
    * the 100× verify profile (jstack: OpenHashSet.rehash in 13/33
    * executor threads; a doc in k candidate pairs paid k set builds). */
  private def jaccardCol(a: Column, na: Column, b: Column, nb: Column): Column = {
    val i = GraftFunctions.intersect_count(a, b)
    i.cast(DoubleType) / (na + nb - i)
  }

  /** Verified near-dup candidate pairs: (ida, idb, jraw) with raw
    * Jaccard similarity, shared by q27/q58/q66. Candidates from the
    * banded-signature self-join; verification is ONE join pair against
    * [[docShingleSets]] with a map-side `array_intersect` — no
    * exploded shingle-intersection join, no separate cardinality
    * joins (the r3 shape spent five exchanges on what is now two). */
  private[operators] def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    nearDupPairsFrom(docShingleSets(s, dir))

  /** [[nearDupPairs]] over an already materialized doc-state frame
    * carrying at least `(doc_id, shs, n, mh0..mh3)` — q88 passes a
    * wider single-pass frame so the corpus is scanned and tokenized
    * once for its whole funnel. */
  private[operators] def nearDupPairsFrom(ds: DataFrame): DataFrame = {
    // r = 4 band values: concat of 4 slice minima (NULL-propagating,
    // so sub-3-token docs never join) — the Scala twin of bandsCteSql
    val stackExpr = (0 until nCandBands).map { b =>
      val cat = (4 * b until 4 * b + 4).map(k => s"mh$k").mkString("concat(", ", ", ")")
      s"$b, $cat"
    }.mkString(s"stack($nCandBands, ", ", ", ") AS (band, sg)")
    // same defensive per-doc normalization as verifyJaccardSets: the
    // caller-built doc-state entry point (q88's enriched frame) must
    // satisfy intersect_count's sorted precondition, and an unsorted
    // caller would silently UNDERCOUNT Jaccard; sorted inputs
    // (MinHashSig) pay a no-op pass
    val sds = ds.withColumn("shs", sort_array(col("shs")))
    val bands = sds.selectExpr("doc_id", stackExpr)
    val cand = bands.as("ba").join(bands.as("bb"),
        col("ba.band") === col("bb.band") && col("ba.sg") === col("bb.sg") &&
        col("ba.doc_id") < col("bb.doc_id"))
      .select(col("ba.doc_id").as("ida"), col("bb.doc_id").as("idb"))
      .distinct()
    // shuffle_hash: the set frames are corpus-scale; AQE's broadcast
    // conversion trusts compressed stats that understate deserialized
    // size ~10x and can OOM the driver (reproduced at 10x sf0.1 in a
    // 1 GB driver) — corpus frames must never ship to the driver; the
    // per-partition hash build is executor-local and spillable.
    cand
      .join(sds.as("x").hint("shuffle_hash"), col("ida") === col("x.doc_id"))
      .join(sds.as("y").hint("shuffle_hash"), col("idb") === col("y.doc_id"))
      .select(col("ida"), col("idb"),
        jaccardCol(col("x.shs"), col("x.n"), col("y.shs"), col("y.n")).as("jraw"))
  }

  /** Full-Jaccard verification of candidate `(ida, idb)` pairs against
    * a shingle frame `dsh(doc_id, s)` (duplicates allowed — set
    * semantics are restored internally) → `(ida, idb, jraw)`. Joins
    * only the candidate pairs' sets — never all pairs. Used by the
    * DF-capped inverted-index path (q70); the minhash LSH path
    * ([[nearDupPairs]]) fuses the same verification into its
    * signature aggregate. Same scale shape: per-doc hashed sets, one
    * join pair, map-side intersection. */
  private[operators] def verifyJaccard(cand: DataFrame, dsh: DataFrame): DataFrame =
    verifyJaccardHashed(cand, dsh.select(col("doc_id"), xxhash64(col("s")).as("sh")))

  /** [[verifyJaccard]] over an ALREADY-hashed `(doc_id, sh)` frame —
    * for callers whose candidate pipeline runs on shingle hashes too
    * (q70's inverted index), so the text never enters any exchange. */
  private[operators] def verifyJaccardHashed(cand: DataFrame, dshH: DataFrame): DataFrame =
    verifyJaccardSets(cand,
      dshH.groupBy(col("doc_id"))
        .agg(collect_set(col("sh")).as("shs")) // sorted by verifyJaccardSets
        .withColumn("n", size(col("shs")).cast(LongType)))

  /** [[verifyJaccardHashed]] against CALLER-built `(doc_id, shs, n)`
    * sets — for operators that already hold a doc-keyed set state
    * (q125/q128's PPJoin state) and must not pay a second doc-keyed
    * exchange of the corpus to rebuild it. Both set joins pin
    * `shuffle_hash`: the sets frame is corpus-derived and must never
    * broadcast (the Dedup.scala:450 OOM rationale). */
  private[operators] def verifyJaccardSets(cand: DataFrame, sets: DataFrame): DataFrame = {
    // defensive per-DOC sort (cheap, once per doc-row) so caller-built
    // states (e.g. q125/q128's df-ORDERED ppState arrays) satisfy the
    // intersect_count sorted precondition; already-sorted frames
    // (MinHashSig, the sort_array path above) pay a no-op pass
    val sorted = sets.withColumn("shs", sort_array(col("shs")))
    cand
      .join(sorted.as("x").hint("shuffle_hash"), col("ida") === col("x.doc_id"))
      .join(sorted.as("y").hint("shuffle_hash"), col("idb") === col("y.doc_id"))
      .select(col("ida"), col("idb"),
        jaccardCol(col("x.shs"), col("x.n"), col("y.shs"), col("y.n")).as("jraw"))
  }

  /** doc_id -> 16-bit aggregate simhash frame (Charikar), one md5
    * nibble's low bit per output bit — q28's published cross-engine
    * fingerprint. The digest is hoisted: all aggregate terms share one
    * md5 per distinct (doc, token). The PAIRING operator (q61) does not
    * use this aggregate form — it fingerprints row-local via the
    * `simhash64` kernel, which never shuffles tokens. */
  private[operators] def simhashes(s: SparkSession, dir: String): DataFrame = {
    val bits = 16
    val dtok = withToks(documents(s, dir))
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()
      .withColumn("h", md5(col("tok")))
    val sums = (0 until bits).map { j =>
      sum(expr(
        s"2 * ((instr('0123456789abcdef', substring(h, ${j + 1}, 1)) - 1) % 2) - 1"
      )).as(s"s$j")
    }
    dtok.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).cast(LongType).as("simhash"))
  }

  /** Oracle CTE for the per-row `simhash64` kernel (q63/q61): distinct
    * non-empty tokens, per-token fnv1a (HUGEINT fold mod 2^64),
    * per-bit ±1 votes, sign -> bit. Ends in
    * `sims(doc_id, u HUGEINT unsigned, simhash BIGINT signed)`. */
  private[operators] val simhash64Cte: String = {
    val pows = (0 until 64).map(j => (BigInt(1) << j).toString).mkString("[", ", ", "]")
    s"""
    WITH toksc AS (SELECT doc_id,
        list_distinct(list_filter(string_split_regex(lower(text), '\\W+'), t -> len(t) > 0)) AS toks
      FROM documents),
    hashed AS (SELECT doc_id,
      list_transform(toks, t ->
        list_reduce(
          list_prepend(CAST(14695981039346656037 AS HUGEINT),
            list_transform(range(1, len(t) + 1), i -> CAST(ascii(substring(t, i, 1)) AS HUGEINT))),
          (h, b) -> ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT))) * 1099511628211) % 18446744073709551616
        )) AS hs
      FROM toksc),
    sims AS (SELECT doc_id, u,
        CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS simhash
      FROM (SELECT doc_id,
        list_reduce(list_prepend(CAST(0 AS HUGEINT),
          list_transform(range(0, 64), j ->
            CASE WHEN list_sum(list_transform(hs, h ->
                   CASE WHEN (h // ($pows)[j + 1]) % 2 = 1 THEN 1 ELSE -1 END)) > 0
                 THEN CAST(($pows)[j + 1] AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)),
          (a, b) -> a + b) AS u
        FROM hashed) raw)"""
  }

  /** Matching oracle CTE ending in `sims(doc_id, simhash)`. */
  private[operators] def simhashCte(): String = {
    val bits = 16
    val sumTerms = (0 until bits).map(j =>
      s"SUM(2 * ((instr('0123456789abcdef', substring(md5(tok), ${j + 1}, 1)) - 1) % 2) - 1) AS s$j").mkString(", ")
    val bitTerms = (0 until bits).map(j =>
      s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""
    WITH toksc AS (SELECT doc_id, string_split_regex(lower(text), '\\W+') AS w FROM documents),
    dtok AS (SELECT DISTINCT doc_id, tok FROM (SELECT doc_id, UNNEST(w) AS tok FROM toksc) u WHERE len(tok) > 0),
    sums AS (SELECT doc_id, $sumTerms FROM dtok GROUP BY doc_id),
    sims AS (SELECT doc_id, CAST($bitTerms AS BIGINT) AS simhash FROM sums)"""
  }
}

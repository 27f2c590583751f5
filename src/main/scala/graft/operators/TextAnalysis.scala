package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators over `documents` [EXT] (SURVEY.md §2B text
  * rows): language-ID heuristic, quality scoring, token counting,
  * content fingerprinting.
  *
  * Everything is a per-row projection + one aggregation — embarrassingly
  * parallel, no shuffle except the final groupBy/sort, so it scales
  * linearly with input splits. All arithmetic avoids transcendental
  * functions (libm results differ across engines); ratios are exact
  * IEEE divisions of integers, bit-identical in the oracle.
  */
object TextAnalysis {
  import Tables._

  /** Fixed stopword lists for the n-gram language heuristic. */
  private val stoplists: Vector[(String, Vector[String])] = Vector(
    "en" -> Vector("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Vector("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Vector("el", "la", "de", "los", "y", "es"),
    "fr" -> Vector("le", "la", "et", "les", "des", "un"),
    "zh" -> Vector("de", "shi", "le", "bu", "wo"))

  private def inList(words: Vector[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  private def arrList(words: Vector[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** `count_in_set(toks_ne, array('the', ...))` — the codegen kernel
    * with the stoplist as an array literal. */
  private def countInSetSql(col: String, words: Vector[String]): String =
    s"count_in_set($col, array${inList(words)})"

  /** Per-doc quality signals + composite score — the shared scoring
    * frame behind q30 (per-doc view) and q77 (decile gate). Empty /
    * token-less docs are dropped: their ratios are 0/0 and a quality
    * score for them is meaningless (same guard as q58). Columns:
    * (doc_id, lang, n_tokens, sum_len, n_stop, n_punct, n_chars2,
    * quality). */
  private[operators] def qualityScored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stopEn = stoplists.head._2
    // r14 NEGATIVE RESULT (guide §2.6): spreading the docs here to
    // parallelize the ~0.5 s serial regex/stoplist stage was measured
    // a net LOSS for two of the three consumers (q77 0.48 → 0.75,
    // q194 0.67 → 0.84 min; q30 noise-level) — their downstream
    // aggregations re-pay the extra exchange more than the serial
    // save. Left unspread on that measurement (the q66 lesson).
    withToksNe(documents(s, dir))
      .filter(length($"text") > 0 && size($"toks_ne") > 0)
      .withColumn("n_tokens", size($"toks_ne").cast(LongType))
      .withColumn("sum_len", expr("sum_strlen(toks_ne)"))
      .withColumn("n_stop", expr(countInSetSql("toks_ne", stopEn)).cast(LongType))
      .withColumn("n_punct", length(regexp_replace($"text", "[^.!?,;:]", "")).cast(LongType))
      .withColumn("n_chars2", length($"text").cast(LongType))
      .withColumn("quality", round(
        lit(0.4) * least($"n_tokens".cast(DoubleType) / 200.0, lit(1.0)) +
        lit(0.3) * (lit(1.0) - $"n_punct".cast(DoubleType) / $"n_chars2") +
        lit(0.3) * ($"n_stop".cast(DoubleType) / $"n_tokens"), 6))
      .select($"doc_id", $"lang", $"n_tokens", $"sum_len", $"n_stop",
        $"n_punct", $"n_chars2", $"quality")
  }

  /** Matching oracle CTE ending in `qscore` with the same columns. */
  private[operators] val qualityCte: String = {
    val stopEn = arrList(stoplists.head._2)
    s"""
    WITH toksc AS (SELECT doc_id, lang, text,
        list_filter(string_split_regex(lower(text), '\\W+'), t -> len(t) > 0) AS wne
      FROM documents
      WHERE len(text) > 0 AND len(list_filter(string_split_regex(lower(text), '\\W+'), t -> len(t) > 0)) > 0),
    qscore AS (SELECT doc_id, lang,
        CAST(len(wne) AS BIGINT) AS n_tokens,
        CAST(list_sum(list_transform(wne, t -> len(t))) AS BIGINT) AS sum_len,
        CAST(len(list_filter(wne, t -> list_contains($stopEn, t))) AS BIGINT) AS n_stop,
        CAST(len(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
        CAST(len(text) AS BIGINT) AS n_chars2,
        ROUND(0.4 * LEAST(CAST(len(wne) AS DOUBLE) / 200.0, 1.0)
            + 0.3 * (1.0 - CAST(len(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / len(text))
            + 0.3 * (CAST(len(list_filter(wne, t -> list_contains($stopEn, t))) AS DOUBLE) / len(wne)), 6) AS quality
      FROM toksc)"""
  }

  /** q221's labeled + bucket-hashed token-frequency frame:
    * (doc_id, good, is_train, b, tf) — one body shared with the
    * streaming serve so the frozen model can never drift from the
    * tokenizer/hash the filter applies online. */
  private[graft] def nbHashedTf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stopEn = stoplists.head._2
    withToksNe(documents(s, dir))
      .filter(length($"text") > 0 && size($"toks_ne") > 0)
      .withColumn("good",
        round(expr(countInSetSql("toks_ne", stopEn)).cast(DoubleType) /
          size($"toks_ne"), 6) >= 0.10)
      .withColumn("is_train", $"doc_id" % 5 =!= 0)
      .select($"doc_id", $"good", $"is_train",
        explode(expr("token_tf(toks_ne)")).as("kv"))
      .select($"doc_id", $"good", $"is_train",
        conv(substring(md5($"kv.tok"), 1, 2), 16, 10)
          .cast(IntegerType).as("b"),
        $"kv.tf".as("tf"))
  }

  /** The trained NB sufficient statistics over the train split:
    * (256-row model (b, cg, cb), 1-row consts (ng, nb)). */
  private[graft] def nbModelConsts(tf: DataFrame): (DataFrame, DataFrame) = {
    import tf.sparkSession.implicits._
    val model = tf.filter($"is_train").groupBy($"b")
      .agg(sum(when($"good", $"tf").otherwise(0L)).as("cg"),
        sum(when(!$"good", $"tf").otherwise(0L)).as("cb"))
    val consts = tf.filter($"is_train")
      .agg(sum(when($"good", $"tf").otherwise(0L)).as("ng"),
        sum(when(!$"good", $"tf").otherwise(0L)).as("nb"))
    (model, consts)
  }

  def queries: Vector[Q] = heavyHitters +: Vector(
    // ---- language identification (stopword-count heuristic) ----------
    Q("q29_lang_id",
      (s, dir) => {
        import s.implicits._
        // one pass, all codegen: five hash-set probe loops per row
        // (CountInSet) instead of five CodegenFallback HOF filters —
        // zero shuffle beyond the final ORDER BY
        var df = withToksNe(documents(s, dir))
        for ((lang, words) <- stoplists)
          df = df.withColumn(s"s_$lang", expr(countInSetSql("toks_ne", words)))
        val langs = stoplists.map(_._1)
        // fixed priority on ties: en > de > es > fr > zh
        val predicted = langs.init.zipWithIndex.foldRight(lit(langs.last): org.apache.spark.sql.Column) {
          case ((lang, i), elseCol) =>
            val later = langs.drop(i + 1)
            val cond = later.map(o => col(s"s_$lang") >= col(s"s_$o")).reduce(_ && _)
            when(cond, lit(lang)).otherwise(elseCol)
        }
        df.select($"doc_id", $"lang", predicted.as("predicted_lang"))
          .withColumn("correct", $"predicted_lang" === $"lang")
          .orderBy($"doc_id")
      },
      Some {
        val scoreCols = stoplists.map { case (lang, words) =>
          s"len(list_filter(wne, t -> list_contains(${arrList(words)}, t))) AS s_$lang"
        }.mkString(", ")
        val langs = stoplists.map(_._1)
        val caseExpr = langs.init.zipWithIndex.map { case (lang, i) =>
          val later = langs.drop(i + 1)
          s"WHEN ${later.map(o => s"s_$lang >= s_$o").mkString(" AND ")} THEN '$lang'"
        }.mkString("CASE ", " ", s" ELSE '${langs.last}' END")
        s"""
        WITH toksc AS (SELECT doc_id, lang,
            list_filter(string_split_regex(lower(text), '\\W+'), t -> len(t) > 0) AS wne
          FROM documents),
        scored AS (SELECT doc_id, lang, $scoreCols FROM toksc)
        SELECT doc_id, lang, $caseExpr AS predicted_lang,
          ($caseExpr = lang) AS correct
        FROM scored ORDER BY doc_id"""
      }),

    // ---- quality scoring ---------------------------------------------
    Q("q30_text_quality",
      (s, dir) => {
        import s.implicits._
        qualityScored(s, dir)
          .select($"doc_id", $"n_tokens",
            round($"sum_len".cast(DoubleType) / $"n_tokens", 4).as("avg_token_len"),
            round($"n_punct".cast(DoubleType) / $"n_chars2", 6).as("punct_ratio"),
            round($"n_stop".cast(DoubleType) / $"n_tokens", 6).as("stop_ratio"),
            $"quality")
          .orderBy($"doc_id")
      },
      Some(s"""
        $qualityCte
        SELECT doc_id, n_tokens,
          ROUND(CAST(sum_len AS DOUBLE) / n_tokens, 4) AS avg_token_len,
          ROUND(CAST(n_punct AS DOUBLE) / n_chars2, 6) AS punct_ratio,
          ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
          quality
        FROM qscore ORDER BY doc_id""")),

    // ---- token counting (whitespace + BPE-ish regex) -----------------
    Q("q31_token_stats",
      (s, dir) => {
        import s.implicits._
        withToksNe(documents(s, dir))
          .withColumn("ws_tokens", size($"toks_ne").cast(LongType))
          .withColumn("bpe_tokens",
            size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)")).cast(LongType))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum($"ws_tokens").as("ws_total"),
            sum($"bpe_tokens").as("bpe_total"))
          .orderBy($"source")
      },
      Some(s"""
        WITH t AS (SELECT source,
            CAST(len(list_filter(string_split_regex(lower(text), '\\W+'), x -> len(x) > 0)) AS BIGINT) AS ws_tokens,
            CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS bpe_tokens
          FROM documents)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(ws_tokens) AS BIGINT) AS ws_total,
          CAST(SUM(bpe_tokens) AS BIGINT) AS bpe_total
        FROM t GROUP BY source ORDER BY source""")),

    // ---- vocabulary head: top-k tokens per language -------------------
    // Tokenizer-training prep: the Zipf head per language. explode ->
    // partial-aggregated (lang, token) counts -> top-10 window with a
    // total tie order (count desc, token asc). One explode-shuffle whose
    // map-side combine collapses to distinct (lang, token) rows, then a
    // window over small per-lang groups — the scalable vocab-stats shape.
    Q("q62_vocab_topk",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val counts = withToksNe(documents(s, dir))
          .select($"lang", explode($"toks_ne").as("tok"))
          .groupBy($"lang", $"tok").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy($"lang").orderBy($"n".desc, $"tok".asc)
        counts.withColumn("rk", row_number().over(w))
          .filter($"rk" <= 10)
          .select($"lang", $"rk", $"tok", $"n")
          .orderBy($"lang", $"rk")
      },
      Some("""
        WITH counts AS (
          SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS n
          FROM (SELECT lang, UNNEST(list_filter(string_split_regex(lower(text), '\W+'), t -> len(t) > 0)) AS tok
                FROM documents) u
          GROUP BY lang, tok),
        ranked AS (SELECT lang, tok, n,
            ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tok ASC) AS rk
          FROM counts)
        SELECT lang, CAST(rk AS INT) AS rk, tok, n
        FROM ranked WHERE rk <= 10 ORDER BY lang, rk""")),

    // ---- content fingerprint (normalized md5) ------------------------
    Q("q32_fingerprint",
      (s, dir) => {
        import s.implicits._
        withToksNe(documents(s, dir))
          .select($"doc_id", md5(concat_ws(" ", $"toks_ne")).as("fp"))
          .orderBy($"doc_id")
      },
      Some(s"""
        SELECT doc_id,
          md5(array_to_string(list_filter(string_split_regex(lower(text), '\\W+'), t -> len(t) > 0), ' ')) AS fp
        FROM documents ORDER BY doc_id""")),

    // ---- code-switching / per-line language consistency (q193, r9) ---
    // The CCNet-style paragraph-level lang-id check: a doc whose LINES
    // disagree with its doc-level language is code-switched, mislabeled
    // or concatenation-contaminated — a standard pre-training filter
    // signal the doc-level q29 cannot see. "Line" is q191's aligned
    // 10-token block; each line is scored with q29's stoplist kernel
    // (codegen count_in_set, same en>de>es>fr>zh tie priority) and
    // lines with ZERO stopword signal abstain (NULL) rather than fall
    // to the tie default — a 10-token block without one stopword has
    // no vote, unlike a whole document.
    //
    // Published per doc: line censuses, how many scored lines match
    // the doc label, the dominant line language (same priority on
    // ties, 'none' when no line has signal), and switch_frac =
    // disagreeing/scored — the filter threshold input.
    //
    // Scale: one Generate per doc (n_toks/10 rows), five codegen
    // hash-set probes per line, ONE partial-combined exchange on
    // doc_id. Nothing joins; nothing is quadratic.
    Q("q193_code_switching",
      (s, dir) => {
        import s.implicits._
        val L = 10
        val langs = stoplists.map(_._1)
        // q191's aligned blocks, as token ARRAYS (the same
        // transform(array(toks), __tk -> …)[0] let-binding: one split
        // per row, never per block)
        val blockToksSql = s"""transform(array(toks), __tk ->
            CASE WHEN size(__tk) > 0
            THEN transform(sequence(0, CAST(ceil(size(__tk) / ${L}.0) AS INT) - 1),
                   p -> slice(__tk, p * $L + 1, $L))
            ELSE CAST(array() AS ARRAY<ARRAY<STRING>>) END)[0]"""
        var lines = Dedup.withToks(documents(s, dir))
          .select($"doc_id", $"lang", posexplode(expr(blockToksSql)).as(Seq("pos", "lt")))
        for ((lang, words) <- stoplists)
          lines = lines.withColumn(s"s_$lang", expr(countInSetSql("lt", words)))
        val predicted = langs.init.zipWithIndex.foldRight(lit(langs.last): org.apache.spark.sql.Column) {
          case ((lang, i), elseCol) =>
            val later = langs.drop(i + 1)
            val cond = later.map(o => col(s"s_$lang") >= col(s"s_$o")).reduce(_ && _)
            when(cond, lit(lang)).otherwise(elseCol)
        }
        val total = langs.map(l => col(s"s_$l")).reduce(_ + _)
        val scored = lines.withColumn("pl",
          when(total === 0, lit(null)).otherwise(predicted))
        val aggCols = Seq(
          count(lit(1)).as("n_lines"),
          sum(when($"pl".isNotNull, 1L).otherwise(0L)).as("lines_scored"),
          sum(when($"pl" === $"lang", 1L).otherwise(0L)).as("lines_matching")) ++
          langs.map(l => sum(when($"pl" === l, 1L).otherwise(0L)).as(s"c_$l"))
        val agg = scored.groupBy($"doc_id", $"lang")
          .agg(aggCols.head, aggCols.tail: _*)
        val dominant = langs.init.zipWithIndex.foldRight(lit(langs.last): org.apache.spark.sql.Column) {
          case ((lang, i), elseCol) =>
            val later = langs.drop(i + 1)
            val cond = later.map(o => col(s"c_$lang") >= col(s"c_$o")).reduce(_ && _)
            when(cond, lit(lang)).otherwise(elseCol)
        }
        agg.select($"doc_id", $"lang", $"n_lines", $"lines_scored", $"lines_matching",
            when($"lines_scored" === 0, lit("none")).otherwise(dominant).as("dominant_lang"),
            round(($"lines_scored" - $"lines_matching").cast(DoubleType)
              / greatest($"lines_scored", lit(1L)), 6).as("switch_frac"))
          .orderBy($"doc_id")
      },
      Some {
        val langs = stoplists.map(_._1)
        val scoreCols = stoplists.map { case (lang, words) =>
          s"len(list_filter(lt, t -> list_contains(${arrList(words)}, t))) AS s_$lang"
        }.mkString(", ")
        val caseExpr = langs.init.zipWithIndex.map { case (lang, i) =>
          val later = langs.drop(i + 1)
          s"WHEN ${later.map(o => s"s_$lang >= s_$o").mkString(" AND ")} THEN '$lang'"
        }.mkString("CASE ", " ", s" ELSE '${langs.last}' END")
        val domExpr = langs.init.zipWithIndex.map { case (lang, i) =>
          val later = langs.drop(i + 1)
          s"WHEN ${later.map(o => s"c_$lang >= c_$o").mkString(" AND ")} THEN '$lang'"
        }.mkString("CASE ", " ", s" ELSE '${langs.last}' END")
        val cCols = langs.map(l =>
          s"CAST(SUM(CASE WHEN pl = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS c_$l").mkString(", ")
        s"""
        WITH toksl AS (SELECT doc_id, lang,
            string_split_regex(lower(text), '\\W+') AS w FROM documents),
        lines AS (SELECT doc_id, lang, list_slice(w, p * 10 + 1, p * 10 + 10) AS lt
          FROM toksl, UNNEST(range(0, CAST(CEIL(len(w) / 10.0) AS BIGINT))) AS t(p)),
        scored AS (SELECT doc_id, lang, $scoreCols FROM lines),
        pl AS (SELECT doc_id, lang,
            CASE WHEN ${langs.map(l => s"s_$l").mkString(" + ")} = 0 THEN NULL
                 ELSE $caseExpr END AS pl
          FROM scored),
        agg AS (SELECT doc_id, lang,
            CAST(COUNT(*) AS BIGINT) AS n_lines,
            CAST(COUNT(pl) AS BIGINT) AS lines_scored,
            CAST(SUM(CASE WHEN pl = lang THEN 1 ELSE 0 END) AS BIGINT) AS lines_matching,
            $cCols
          FROM pl GROUP BY doc_id, lang)
        SELECT doc_id, lang, n_lines, lines_scored, lines_matching,
          CASE WHEN lines_scored = 0 THEN 'none' ELSE $domExpr END AS dominant_lang,
          ROUND(CAST(lines_scored - lines_matching AS DOUBLE)
            / GREATEST(lines_scored, 1), 6) AS switch_frac
        FROM agg ORDER BY doc_id"""
      }),

    // ---- model-based quality filter (q221) -----------------------------
    // The CCNet/fastText-class curation stage: TRAIN a linear lexical
    // quality classifier in-engine and audit it on a held split — no
    // external model, no driver loop, integer/decimal-exact sufficient
    // statistics throughout. Naive-Bayes-style fit over HASHED
    // unigrams (md5 → 256 buckets — the hashing trick: the model is a
    // 256-row broadcastable artifact at ANY corpus size, never a
    // vocab-sized frame): per class c, per bucket b, the Laplace-
    // smoothed rate r_c(b) = (count_c(b)+α)/(N_c+256α). Scoring is
    // deliberately LOG-FREE (the q149/BM25 discipline — no
    // transcendental whose last ulp differs across engines): each
    // bucket votes (r_g−r_b)/(r_g+r_b) ∈ [−1,1] rounded 1e-6, a doc's
    // score is the tf-weighted DECIMAL-exact mean of its bucket
    // votes, and the decision threshold is FIT on the train split as
    // the midpoint of the two class-mean scores (the bias term an NB
    // log-posterior carries implicitly; an unfit 0 threshold measured
    // majority-class collapse). Labels = q30's LEXICAL gate
    // (stop_ratio ≥ 0.10 — the vocabulary-visible component of its
    // quality composite; the length/punct gates are structural
    // features a bag-of-words model cannot see, exactly why CCNet
    // pairs its LM filter with separate length heuristics). Split:
    // train = doc_id % 5 ≠ 0, test = the rest. Published per
    // smoothing α ∈ {1, 5, 25}: the fitted threshold and the held-out
    // confusion matrix + accuracy/precision/recall — the smoothing
    // dial's damage is the audit (α=1 reads 0.92 accuracy at sf0.01;
    // α=25 over-smooths the 256-bucket signal away).
    //
    // Scale: one map-only tokenize+hash pass (the q82/q149 kernel);
    // the model/consts/threshold frames are 256/1/3 rows (broadcast);
    // scoring is an equi-join of the token stream against the
    // 256-row model — no vocab exchange, no second corpus pass; the
    // confusion is one partial-combined aggregate per α.
    Q("q221_nb_quality_filter",
      (s, dir) => {
        import s.implicits._
        val tf = nbHashedTf(s, dir)
        val (model, consts) = nbModelConsts(tf)
        val alphas = Seq(1, 5, 25).toDF("alpha")
        val rg = (coalesce($"cg", lit(0L)) + $"alpha").cast(DoubleType) /
          ($"ng" + lit(256) * $"alpha")
        val rb = (coalesce($"cb", lit(0L)) + $"alpha").cast(DoubleType) /
          ($"nb" + lit(256) * $"alpha")
        val wts = tf.join(broadcast(model), Seq("b"), "left")
          .crossJoin(broadcast(consts))
          .crossJoin(broadcast(alphas))
          .withColumn("w", round((rg - rb) / (rg + rb), 6))
        val ds = wts.groupBy($"alpha", $"doc_id", $"good", $"is_train")
          .agg(round(
            sum(($"w" * $"tf").cast(DecimalType(28, 6))).cast(DoubleType) /
              sum($"tf"), 6).as("score"))
        val thr = ds.filter($"is_train").groupBy($"alpha")
          .agg(round((
            sum(when($"good", $"score").cast(DecimalType(28, 6))).cast(DoubleType) /
              sum(when($"good", 1)) +
            sum(when(!$"good", $"score").cast(DecimalType(28, 6))).cast(DoubleType) /
              sum(when(!$"good", 1))) / 2, 6).as("threshold"))
        ds.filter(!$"is_train").join(broadcast(thr), "alpha")
          .groupBy($"alpha", $"threshold")
          .agg(count(lit(1)).as("n_test"),
            sum(when($"score" > $"threshold" && $"good", 1L).otherwise(0L)).as("tp"),
            sum(when($"score" > $"threshold" && !$"good", 1L).otherwise(0L)).as("fp"),
            sum(when($"score" <= $"threshold" && $"good", 1L).otherwise(0L)).as("fn"),
            sum(when($"score" <= $"threshold" && !$"good", 1L).otherwise(0L)).as("tn"))
          .select($"alpha", $"threshold", $"n_test", $"tp", $"fp", $"fn", $"tn",
            round(($"tp" + $"tn").cast(DoubleType) / $"n_test", 6).as("accuracy"),
            when($"tp" + $"fp" === 0, lit(0.0))
              .otherwise(round($"tp".cast(DoubleType) / ($"tp" + $"fp"), 6))
              .as("precision_good"),
            when($"tp" + $"fn" === 0, lit(0.0))
              .otherwise(round($"tp".cast(DoubleType) / ($"tp" + $"fn"), 6))
              .as("recall_good"))
          .orderBy($"alpha")
      },
      Some {
        val stopEn = arrList(stoplists.head._2)
        s"""
        WITH toksc AS (SELECT doc_id, text,
            list_filter(string_split_regex(lower(text), '\\W+'), t -> len(t) > 0) AS wne
          FROM documents
          WHERE len(text) > 0 AND len(list_filter(string_split_regex(lower(text), '\\W+'), t -> len(t) > 0)) > 0),
        lab AS (SELECT doc_id, wne,
            ROUND(CAST(len(list_filter(wne, t -> list_contains($stopEn, t))) AS DOUBLE) / len(wne), 6) >= 0.10 AS good,
            doc_id % 5 <> 0 AS is_train
          FROM toksc),
        tf AS (SELECT doc_id, good, is_train,
                 ('0x' || substr(md5(tok), 1, 2))::INT AS b,
                 CAST(COUNT(*) AS BIGINT) AS tf
               FROM (SELECT doc_id, good, is_train, UNNEST(wne) AS tok FROM lab) u
               GROUP BY 1, 2, 3, 4),
        model AS (SELECT b,
                    CAST(SUM(CASE WHEN good THEN tf ELSE 0 END) AS BIGINT) AS cg,
                    CAST(SUM(CASE WHEN NOT good THEN tf ELSE 0 END) AS BIGINT) AS cb
                  FROM tf WHERE is_train GROUP BY b),
        consts AS (SELECT CAST(SUM(CASE WHEN good THEN tf ELSE 0 END) AS BIGINT) AS ng,
                     CAST(SUM(CASE WHEN NOT good THEN tf ELSE 0 END) AS BIGINT) AS nb
                   FROM tf WHERE is_train),
        alphas AS (SELECT * FROM (VALUES (1), (5), (25)) a(alpha)),
        wts AS (SELECT t.doc_id, t.good, t.is_train, a.alpha, t.tf,
                  ROUND((CAST(COALESCE(m.cg, 0) + a.alpha AS DOUBLE) / (c.ng + 256 * a.alpha) -
                         CAST(COALESCE(m.cb, 0) + a.alpha AS DOUBLE) / (c.nb + 256 * a.alpha)) /
                        (CAST(COALESCE(m.cg, 0) + a.alpha AS DOUBLE) / (c.ng + 256 * a.alpha) +
                         CAST(COALESCE(m.cb, 0) + a.alpha AS DOUBLE) / (c.nb + 256 * a.alpha)), 6) AS w
                FROM tf t LEFT JOIN model m USING (b)
                CROSS JOIN consts c CROSS JOIN alphas a),
        ds AS (SELECT alpha, doc_id, good, is_train,
                 ROUND(CAST(SUM(CAST(w * tf AS DECIMAL(28,6))) AS DOUBLE) / SUM(tf), 6) AS score
               FROM wts GROUP BY 1, 2, 3, 4),
        thr AS (SELECT alpha, ROUND((
                  CAST(SUM(CAST(CASE WHEN good THEN score END AS DECIMAL(28,6))) AS DOUBLE)
                    / SUM(CASE WHEN good THEN 1 END) +
                  CAST(SUM(CAST(CASE WHEN NOT good THEN score END AS DECIMAL(28,6))) AS DOUBLE)
                    / SUM(CASE WHEN NOT good THEN 1 END)) / 2, 6) AS threshold
                FROM ds WHERE is_train GROUP BY alpha),
        conf AS (SELECT d.alpha, t.threshold,
                   CAST(COUNT(*) AS BIGINT) AS n_test,
                   CAST(SUM(CASE WHEN d.score > t.threshold AND d.good THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN d.score > t.threshold AND NOT d.good THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(SUM(CASE WHEN d.score <= t.threshold AND d.good THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                   CAST(SUM(CASE WHEN d.score <= t.threshold AND NOT d.good THEN 1 ELSE 0 END) AS BIGINT) AS tn
                 FROM ds d JOIN thr t USING (alpha)
                 WHERE NOT d.is_train GROUP BY 1, 2)
        SELECT alpha, threshold, n_test, tp, fp, fn, tn,
          ROUND(CAST(tp + tn AS DOUBLE) / n_test, 6) AS accuracy,
          CASE WHEN tp + fp = 0 THEN 0.0
               ELSE ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision_good,
          CASE WHEN tp + fn = 0 THEN 0.0
               ELSE ROUND(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall_good
        FROM conf ORDER BY alpha"""
      })
  )

  /** documents + `toks_ne`: lowercased non-empty word tokens.
    * `array_remove(.., '')` == `filter(.., t -> length(t) > 0)` on
    * split output (split never yields nulls) but is a regular codegen
    * expression, not a CodegenFallback higher-order function. */
  private[operators] def withToksNe(df: DataFrame): DataFrame =
    df.withColumn("toks_ne", array_remove(split(lower(col("text")), "\\W+"), ""))

  /** q131's sketch-then-verify pair, appended to [[queries]] below. */
  private[operators] val heavyHitters: Q =
    // ---- heavy hitters via a custom mergeable aggregate --------------
    // Misra–Gries (graft.functions.MisraGries) holds ≤ 256 counters
    // with the ANY-merge-order guarantee true − N/257 ≤ est ≤ true, so
    // every token above the N/257 frequency line is certainly in the
    // candidate map. The published product is the candidates' exact
    // top-10 (re-counted — the q41 contract: the exact side IS the
    // gate) plus the bound check as a flag; the raw counter values are
    // deliberately NOT published, because they vary with Spark's
    // shuffle-merge order — only order-free facts are reproducible
    // facts on a cluster (the q105 principle). A missed true-top-10
    // token cannot happen while its count clears N/257 (Zipf head
    // clears it by ~2.5x here, asserted in FunctionsSpec); if the
    // corpus ever degenerated, the oracle's independent top-10 makes
    // the row compare FAIL loudly rather than agree silently.
    // Scale: sketch + N ride ONE token scan (partial-combined, fixed
    // 256-entry state per task); candidates broadcast (bounded by
    // CONSTRUCTION, the plane/centroid whitelist class); the exact
    // side is a partial-combined vocab count; top-10 is
    // TakeOrderedAndProject — no global window anywhere.
    Q("q131_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        val tok = withToksNe(documents(s, dir))
          .select(explode($"toks_ne").as("tok"))
        val summ = tok.agg(
          graft.functions.MisraGries.summary($"tok", 256).as("mg"),
          count(lit(1)).as("n"))
        val cand = summ.select(explode($"mg"), $"n")
          .select($"key".as("tok"), $"value".as("est"), $"n")
        val exact = tok.groupBy($"tok").agg(count(lit(1)).as("n_exact"))
        exact.join(broadcast(cand), "tok")
          .orderBy($"n_exact".desc, $"tok").limit(10)
          .select($"tok", $"n_exact",
            ($"est" <= $"n_exact" &&
              ($"n_exact" - $"est") * lit(257L) <= $"n").as("within_mg_bound"))
          .orderBy($"n_exact".desc, $"tok")
      },
      Some("""
        WITH t AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
                     x -> len(x) > 0)) AS tok FROM documents),
        tf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_exact FROM t GROUP BY tok)
        SELECT tok, n_exact, TRUE AS within_mg_bound
        FROM tf ORDER BY n_exact DESC, tok LIMIT 10"""))
}

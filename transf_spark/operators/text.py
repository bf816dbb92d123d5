"""Text analysis operators (north-star extension): token statistics,
quality scoring, token counting (whitespace + BPE-ish regex), document
fingerprinting, language-ID heuristic.

All hot-path logic is JVM expressions (split/regexp/higher-order folds) —
no Python in any of these plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from transf_spark.queries import register
from transf_spark.sources.tables import load_table

STOPWORDS = ("the", "a", "of", "and", "to")
_STOP_SQL = "('" + "','".join(STOPWORDS) + "')"

FP_MOD = 1_000_000_007
FP_MUL = 31


@register(
    "text_analysis_tokens",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (
      SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS n
      FROM tok GROUP BY lang, token
    )
    SELECT lang, token, n, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT lang, token, n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rnk
      FROM counts)
    WHERE rnk <= 20
    """,
    category="text-analysis",
    origin="EXT",
)
def text_analysis_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens per language: explode → two-phase count (map-side
    partial then shuffle on (lang, token) — high cardinality, even spread) →
    per-lang top-k window."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .select("lang", "token", "n", F.col("rnk").cast("long").alias("rnk"))
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents)
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
             / len(string_split(text, ' ')) AS avg_token_len,
           CAST(len(list_filter(string_split(text, ' '), t -> t IN {_STOP_SQL})) AS DOUBLE)
             / len(string_split(text, ' ')) AS stopword_ratio,
           CASE WHEN length(text) > 0
                THEN CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
                       / length(text) END AS space_ratio,
           0.5 * (CAST(len(list_filter(string_split(text, ' '), t -> t IN {_STOP_SQL})) AS DOUBLE)
                  / len(string_split(text, ' ')))
             + 0.5 * LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100, 1.0) AS quality
    FROM d
    """,
    # ^ coalesce(text, '') in BOTH dialects: a NULL text makes Spark's
    # size(split()) -1 under pinned ANSI-off while the oracle's len() is
    # NULL (round-6 degenerate-fixture sweep)
    category="text-analysis",
    origin="EXT",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality features: token/char counts, mean token length,
    stopword ratio, whitespace ratio, and a blended 0-1 quality score —
    the standard cheap pre-filter before expensive LLM-data cleaning.
    All ratios are exact int/int divisions ⇒ oracle-hashable."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("long")
    n_chars = F.length("text").cast("long")
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    n_stop = F.size(F.expr(
        f"filter(split(text, ' '), t -> array_contains(array({stop_list}), t))"
    ))
    stop_ratio = n_stop.cast("double") / n_tokens
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        ((n_chars - n_tokens + 1).cast("double") / n_tokens).alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        # explicit CASE guard on the one 0-able denominator: Spark's
        # ANSI-off 0/0 is NULL but DuckDB >= 1.1 IEEE 0/0 is NaN, which
        # the comparator hashes differently (review finding; empty-text
        # docs are latent until a fixture regeneration)
        F.when(
            n_chars > 0,
            (n_chars - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))).cast(
                "double"
            )
            / n_chars,
        ).alias("space_ratio"),
        (0.5 * stop_ratio + 0.5 * F.least(n_tokens.cast("double") / 100, F.lit(1.0))).alias("quality"),
    )


@register(
    "text_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(coalesce(text, ''), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_ish_tokens,
           CAST(ceil(length(coalesce(text, '')) / 4.0) AS BIGINT) AS len4_estimate
    FROM documents
    """,
    category="text-analysis",
    origin="EXT",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, a BPE-ish regex
    (letter-runs | digit-runs | other), and the chars/4 LLM heuristic."""
    docs = load_table(spark, sf_dir, "documents")
    # coalesce BOTH dialects: size(split(NULL)) is -1 under pinned
    # ANSI-off where the oracle's len(NULL) is NULL (round-6 degenerate-
    # fixture sweep; latent until a regenerated fixture carries NULL text)
    t = F.coalesce(F.col("text"), F.lit(""))
    return docs.select(
        "doc_id",
        F.size(F.split(t, " ")).cast("long").alias("ws_tokens"),
        F.regexp_count(t, F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long").alias("bpe_ish_tokens"),
        F.ceil(F.length(t) / 4.0).cast("long").alias("len4_estimate"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents)
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
                          list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> (a * {FP_MUL} + b) % {FP_MOD}) AS fingerprint,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
                          list_transform(string_split(substring(text, 1, 64), ''),
                                         c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> (a * {FP_MUL} + b) % {FP_MOD}) AS head_fingerprint
    FROM d
    """,
    # ^ coalesce(text, '') in BOTH dialects: a NULL text folds to NULL on
    # the Spark side but to the prepended 0 on DuckDB's (round-6 sweep) —
    # an empty text fingerprints as 0 identically in both
    category="text-analysis",
    origin="EXT",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash (h ← h·31 + c mod 1e9+7) over the full text
    and its 64-char head — the order-sensitive fingerprint exact dedup and
    shingling build on. Pure fold, map-only, integer-exact on both engines."""
    docs = load_table(spark, sf_dir, "documents")

    def fp(src: str) -> F.Column:
        return F.expr(
            f"""aggregate(
                  transform(split({src}, ''), c -> cast(ascii(c) AS bigint)),
                  cast(0 AS bigint),
                  (a, b) -> (a * {FP_MUL} + b) % {FP_MOD})"""
        )

    return docs.select(
        "doc_id",
        fp("coalesce(text, '')").alias("fingerprint"),
        fp("substring(coalesce(text, ''), 1, 64)").alias("head_fingerprint"),
    )


# Ceiling on the language-ID control-plane collect (round-15 verdict item 4
# / ADVICE item 2): the collected (lang, bg) count table is charset²-bounded
# in PRINCIPLE, but a CJK/full-Unicode corpus has a bigram vocabulary in the
# 10⁵-10⁷ range × |langs| — an unguarded collect is a driver OOM and the
# rebuilt literal grid a megabyte-scale plan. Observed pairs ≤ |langs|·|vocab|
# (grid cells), so ONE constant guards both: the collect is bounded with
# limit(cap+1) (the MAX_BRUTE_QUERY_VECTORS device — the check itself never
# ships more than cap+1 rows), and above the cap — or when the rebuilt grid
# would exceed it — training falls back to the fully DISTRIBUTED profile
# aggregate (the r14 broadcast-join form, log/quantize math in the identical
# Spark expressions, so scores are bit-identical between branches; pinned by
# tests/test_language_id.py::test_distributed_profile_fallback_identical).
# 100k cells ≈ a few MB collected / a LocalRelation the planner still
# handles; the fixture grid is 570 cells — 175× under the cap.
LANG_ID_GRID_MAX_CELLS = 100_000


def _language_id_profile_distributed(train: DataFrame, v: int) -> DataFrame:
    """Distributed (cand_lang, bg, logp_q) profile grid — the above-cap
    twin of the collected literal grid: totals ⨯ vocab left-joined back to
    the observed counts, with the SAME Spark-side log/quantize expression
    (matched: log((n+1)/(total+V)); unmatched: the same expression with
    n = 0), so every logp_q long is bit-identical to the collected
    branch's. The lang match is null-safe: the collected branch profiles
    NULL-lang training docs as their own candidate, so this one must too.
    ``train`` arrives lazily-checkpointed by the caller so the
    explode+aggregate runs once, not once per consumer."""
    totals = train.groupBy("lang").agg(F.sum("n").alias("total"))
    vocab = train.select("bg").distinct()
    counts = train.select(
        F.col("lang").alias("n_lang"), F.col("bg").alias("n_bg"), "n"
    )
    return (
        totals.crossJoin(vocab)
        .join(
            counts,
            F.col("lang").eqNullSafe(F.col("n_lang")) & (F.col("bg") == F.col("n_bg")),
            "left",
        )
        .select(
            F.col("lang").alias("cand_lang"),
            "bg",
            (
                F.log(
                    (F.coalesce(F.col("n"), F.lit(0)) + 1)
                    / (F.col("total") + F.lit(v).cast("long"))
                )
                * 1_000_000
            )
            .cast("long")
            .alias("logp_q"),
        )
    )


def language_id_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram language-ID, per-doc form: build per-lang bigram
    profiles from the corpus itself (train), score each doc against every
    profile (sum of log relative frequencies), predict argmax.

    Self-trained n-gram language identification — on the synthetic fixture
    the lang labels are only weakly coupled to content, so the interesting
    output is the score machinery (profile join + argmax), not accuracy.

    Plan (re-planned in r15 — guide §1 first-principles, §4.1, §7.2):

    - KERNEL: bigrams come from ONE codegen'd JVM regex pass per doc —
      ``regexp_extract_all(text, '(?s)(?=(..))', 1)`` (a zero-width
      lookahead emits every overlapping pair; DOTALL keeps newline pairs)
      behind an exact ``length(text) >= 2`` guard, so the bigram-bearing
      doc set is IDENTICAL to the old form's. The old
      sequence→transform→filter higher-order chain evaluated three
      interpreted lambdas per character — measured 1.95 s vs 0.54 s for
      the full sf0.1 explode. Caveat, documented honestly: on non-BMP
      text (surrogate pairs) the regex advances code-UNIT-wise, so such
      docs contribute a slightly different bigram multiset than the old
      code-point substring walk; train and score use the SAME kernel, the
      declared oracle invariants never reference bigram identities, and
      every current fixture (vocab 114, BMP-only) is bit-identical.
    - TWO corpus passes total, each evaluated once (train, score). The
      old DAG hung profiles, floors, per-doc totals and scores as
      separate subtrees off the raw explode; runtime exchange reuse does
      not collapse them (canonicalized subtrees differ) and the executed
      plan re-ran the explode for each — 3.3 s at sf0.1. (A
      localCheckpoint of the (doc, bg) aggregate would make it ONE pass,
      but its RDD materialization measured 1.7 s warm — more than the
      0.5 s regex re-explode it saves at this scale; at 100 TB the
      materialize-once form wins and is a one-line change.)
    - TRAIN: one (lang, bg) count aggregate, collected — a
      charset²-bounded control-plane table (|langs|·|vocab| = 570 rows at
      sf0.1; the k-means-centroid bounded-collect contract). The FULL
      (cand_lang × vocab) log-prob grid is rebuilt as a literal
      DataFrame with the log/quantize math left in SPARK expressions, so
      every logp_q long is bit-identical to the old plan's (matched:
      log((n+1)/(total+V)); unmatched floor: log((0+1)/(total+V)) — the
      same expression with n = 0, so the grid subsumes the old separate
      floor table).
    - SCORE: one linear pipeline over the checkpoint — broadcast-join the
      grid → one (doc_id, cand_lang) sum. The old per-doc-total branch is
      gone: Σ_all-bg cnt·logp_grid equals s_matched + (t_doc − m)·floor
      by integer distributivity, exactly."""
    docs = load_table(spark, sf_dir, "documents")
    # length guard in CODE POINTS (Spark length), so the set of docs that
    # produce any bigram — and therefore the census's n_predicted — is
    # exactly the oracle's length(text) >= 2 population on any fixture
    # (a lone non-BMP char is length 1 but two regex code units).
    bigrams = F.expr(
        "CASE WHEN length(text) >= 2"
        " THEN regexp_extract_all(text, '(?s)(?=(..))', 1)"
        " ELSE array() END"
    )
    # ---- train: one bounded aggregate job, collected (control-plane) ----
    train = (
        docs.select("lang", F.explode(bigrams).alias("bg"))
        .groupBy("lang", "bg")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Guarded collect (round-16, see LANG_ID_GRID_MAX_CELLS): limit(cap+1)
    # bounds the driver transfer of the check itself; above the cap the
    # collected-grid fast path is abandoned for the distributed twin.
    prof_rows = train.limit(LANG_ID_GRID_MAX_CELLS + 1).collect()
    over_cap = len(prof_rows) > LANG_ID_GRID_MAX_CELLS
    totals: dict = {}
    vocab: set = set()
    if not over_cap:
        for r in prof_rows:
            totals[r["lang"]] = totals.get(r["lang"], 0) + r["n"]
            vocab.add(r["bg"])
        if len(totals) * len(vocab) > LANG_ID_GRID_MAX_CELLS:
            # observed pairs fit but the FULL |langs|×|vocab| grid would not
            over_cap = True
            totals, vocab = {}, set()
    # LAPLACE-SMOOTHED over the SHARED bigram vocabulary V (round-8
    # unicode sweep — the bug an UNBALANCED multilingual corpus exposed):
    # with p(bg|cand) = (n+1)/(total+V) matched and 1/(total+V) unmatched,
    # the shared V term dominates small totals and equalizes the floors,
    # while within a candidate matched ≥ floor always holds. Standard
    # add-one estimation, nothing bespoke.
    # logp quantized to integer micro-nats BEFORE the per-doc sum: a plain
    # SUM(double) is partial-aggregation-order dependent (exprs.py
    # doctrine), so two near-tied candidate languages could swap argmax
    # run-to-run. Summing exact integers makes the score — and therefore
    # predicted_lang — reproducible; the 1e-6-nat quantization error is
    # orders below any meaningful score gap. The log/quantize runs in
    # Spark (JVM log), NOT Python math.log — last-ulp parity with the
    # previous plan's longs.
    if over_cap:
        # Distributed twin (round-16 fallback): the grid never touches the
        # driver. Lazy localCheckpoint truncates the explode+aggregate
        # lineage so vocab-count, totals and the grid join all reuse ONE
        # computed train table instead of re-running the corpus aggregate
        # per consumer. The broadcast hint is deliberately absent — a grid
        # this size is exactly what must NOT be forced through a broadcast;
        # the planner picks the join strategy from real sizes.
        train_ck = train.localCheckpoint(eager=False)
        v_dist = train_ck.select("bg").distinct().count()
        profile_full = _language_id_profile_distributed(train_ck, v_dist)
        profile_joined = profile_full
    else:
        v = len(vocab)
        n_map = {(r["lang"], r["bg"]): r["n"] for r in prof_rows}
        grid = [
            (lang, bg, n_map.get((lang, bg), 0), total)
            for lang, total in totals.items()
            for bg in sorted(vocab)
        ]
        profile_full = spark.createDataFrame(
            grid, "cand_lang string, bg string, n long, total long"
        ).select(
            "cand_lang",
            "bg",
            (
                F.log((F.col("n") + 1) / (F.col("total") + F.lit(v).cast("long")))
                * 1_000_000
            )
            .cast("long")
            .alias("logp_q"),
        )
        profile_joined = F.broadcast(profile_full)
    # ---- score: one linear corpus pipeline, one corpus exchange ----
    scored = (
        docs.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(profile_joined, "bg")
        .groupBy("doc_id", "cand_lang")
        .agg(F.sum(F.col("cnt") * F.col("logp_q")).alias("score_q"))
    )
    w = W.partitionBy("doc_id").orderBy(
        F.col("score_q").desc(), F.col("cand_lang").asc()
    )
    top1 = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("cand_lang").alias("predicted_lang"),
            (F.col("score_q").cast("double") / 1_000_000).alias("score"),
        )
    )
    # left join back to the corpus: a doc with no scoreable bigrams
    # (< 2 chars / NULL text — latent today) still gets a row, with NULL
    # prediction, preserving the full-coverage contract the test pins
    return docs.select("doc_id").join(top1, "doc_id", "left")


# Accuracy floor for the DECLARED invariant (not the pytest signal gate,
# which holds 0.28 at sf0.001 in tests/test_language_id.py): the fixture's
# lang labels are only weakly coupled to content — measured overall
# accuracy is 0.236 (sf0.1) / 0.358 (sf0.01) / 0.328 (sf0.001) with the
# floor-penalty scorer (identical band to the pre-fix scorer on these
# fixtures — their content is nearly label-free, so the fix shows up on
# signal-bearing corpora instead: 0.92 on the strongly-labeled universe
# fixture where the old matched-only scorer INVERTED to 0.08). A tight
# floor would flake on regeneration; 0.15 sits solidly below the observed
# band but far above the machinery-collapse modes this invariant catches
# (all-NULL predictions ≈ 0.0, empty profiles, degenerate argmax).
LANG_ID_ACC_FLOOR = 0.15


@register(
    "text_language_id",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN length(text) >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_predicted,
           CAST(0 AS BIGINT) AS n_out_of_domain,
           TRUE AS no_argmax_collapse,
           TRUE AS acc_above_floor
    FROM documents GROUP BY lang
    """,
    # ^ no_argmax_collapse replaced the old exact n_langs_predicted ==
    # trainable-language-count claim (round-13 review): Laplace-smoothed
    # argmax does NOT guarantee every trainable language wins somewhere —
    # a small language whose bigrams are relatively commoner inside a
    # larger corpus can lose the argmax even on its own documents
    # (concrete repro in the review), so the equality was a
    # regeneration-latent hash mismatch. The honest invariant is the
    # anti-collapse FLOOR the claim existed for: at least min(2,
    # n_trainable) distinct languages are predicted — false exactly when
    # the classifier degenerates to one answer on a multi-language
    # corpus. (Trainable = >= 1 bigram-bearing doc; a language of only
    # NULL/short texts trains no profile — round-6 degenerate sweep.)
    category="text-analysis",
    origin="EXT",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID invariant census — the hash-checkable declared form of
    the heuristic classifier (round-5 verdict item 6; the
    ``agg_approx_distinct`` invariant-oracle precedent). The classifier's
    per-doc argmax (see :func:`language_id_predictions`) cannot be oracled
    value-for-value, but its CONTRACTS can, and the oracle states each as
    the exact value it must equal:

    - coverage: every doc with a scoreable bigram (length ≥ 2) gets a
      prediction — ``n_predicted`` must equal the oracle's exact count of
      such docs per lang (profiles are trained on this same corpus, so
      every bigram matches ≥1 profile by construction);
    - domain: predictions only ever name training languages
      (``n_out_of_domain`` = 0);
    - no argmax collapse: at least min(2, trainable-language-count)
      distinct languages appear as predictions
      (``no_argmax_collapse`` — the exact every-trainable-language-
      predicted form was unsound, see the oracle note);
    - signal: overall accuracy vs the ``lang`` column clears
      LANG_ID_ACC_FLOOR (see the floor's rationale above).

    Plan: the per-doc machinery (one profile shuffle + broadcast scoring),
    then one 5-row census aggregate; the three global invariants reduce to
    a 1-row aggregate broadcast onto the census."""
    docs = load_table(spark, sf_dir, "documents")
    pred = language_id_predictions(spark, sf_dir)
    truth = docs.select("doc_id", "lang")
    j = truth.join(pred, "doc_id")
    # out-of-domain flag via a LAZY broadcast LEFT join against the
    # distinct training-language set — the earlier isin(collect()) form
    # ran an eager Spark job at DataFrame-construction time, and a
    # separate left-anti subtree re-evaluated the whole prediction
    # pipeline (round-6 review, both findings). The train set is
    # distinct, so the left join matches ≤ 1 row and never duplicates j.
    train = docs.select(F.col("lang").alias("_train_lang")).distinct()
    j2 = j.join(
        F.broadcast(train), F.col("predicted_lang") == F.col("_train_lang"), "left"
    )
    # ONE first-level aggregate to the tiny (lang, predicted_lang, ood)
    # confusion table; BOTH the per-lang census and the global invariants
    # derive from it through its (lang, predicted_lang, is_ood) exchange.
    # (r15 A/B: localCheckpointing base to pin a single evaluation costs
    # more in eager RDD materialization than the duplicated post-explode
    # consumer work it saves — 3.19 s vs 2.61 s total — so it stays lazy;
    # the corpus-scale explode itself is evaluated once per pass either
    # way, see language_id_predictions.)
    base = j2.groupBy(
        "lang",
        "predicted_lang",
        (F.col("predicted_lang").isNotNull() & F.col("_train_lang").isNull()).alias(
            "is_ood"
        ),
    ).agg(F.count(F.lit(1)).alias("n"))
    census = base.groupBy("lang").agg(
        F.sum("n").alias("n_docs"),
        F.sum(
            F.when(F.col("predicted_lang").isNotNull(), F.col("n")).otherwise(0)
        ).alias("n_predicted"),
    )
    # trainable-language count as a LAZY broadcast 1-row aggregate (the
    # eager .count() form would run a job at DataFrame-construction —
    # the round-6 isin(collect()) antipattern)
    trainable = docs.filter(F.length("text") >= 2).agg(
        F.count_distinct("lang").alias("_n_trainable")
    )
    globals_row = (
        base.agg(
            F.count_distinct("predicted_lang").alias("_n_langs_pred"),
            F.sum(F.when(F.col("is_ood"), F.col("n")).otherwise(0)).alias(
                "n_out_of_domain"
            ),
            (
                # NULL predictions count as misses: they contribute n to
                # the denominator but the when() arm (NULL == lang →
                # NULL) sends them to otherwise(0) in the numerator
                F.sum(
                    F.when(
                        F.col("predicted_lang") == F.col("lang"), F.col("n")
                    ).otherwise(0)
                ).cast("double")
                / F.sum("n")
                >= F.lit(LANG_ID_ACC_FLOOR)
            ).alias("acc_above_floor"),
        )
        .crossJoin(F.broadcast(trainable))
        .select(
            (
                F.col("_n_langs_pred")
                >= F.least(F.lit(2), F.col("_n_trainable"))
            ).alias("no_argmax_collapse"),
            "n_out_of_domain",
            "acc_above_floor",
        )
    )
    return census.join(F.broadcast(globals_row)).select(
        "lang",
        "n_docs",
        "n_predicted",
        "n_out_of_domain",
        "no_argmax_collapse",
        "acc_above_floor",
    )


# Per-doc unigram LM score as a standalone SELECT — shared by the
# text_unigram_lm_score oracle and (as a CTE) the CCNet-style
# docs_perplexity_buckets oracle.
_UNIGRAM_LM_ORACLE = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ),
    corpus AS (
      SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY term
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM corpus)
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(SUM(tf * cnt) AS BIGINT) AS freq_mass,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(SUM(tf * cnt) AS DOUBLE) / (CAST(SUM(tf) AS BIGINT) * tot.total)
             AS commonness
    FROM tf JOIN corpus USING (term) CROSS JOIN tot
    GROUP BY doc_id, tot.total
"""


@register(
    "text_unigram_lm_score",
    oracle=_UNIGRAM_LM_ORACLE,
    category="text-analysis",
    origin="EXT",
)
def text_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram language-model quality score per document — the
    CCNet-style curation signal: documents whose tokens are improbably
    rare under the corpus unigram distribution are flagged (OCR noise,
    boilerplate hashes), improbably common ones too (template spam).

    Per doc: ``commonness`` = mean corpus relative frequency of its token
    occurrences = Σ(tf·cnt) / (n_tokens · total), plus the hapax count
    (tokens occurring exactly once corpus-wide — a noise proxy). All
    accumulation is integer (bigint sums, exact in both engines); the only
    floating-point op is the single final division, so the result is
    IEEE-exact and hash-checkable — the same determinism device as
    `text_tfidf_topk`'s rational IDF (a log-prob formulation would diverge
    in the last ulp between libm implementations).

    Plan: one corpus-sized shuffle on (doc_id, term) with map-side
    combine; the term-frequency table derives from that result (term
    cardinality ≪ corpus) and AQE broadcasts it back; the corpus total is
    a 1-row broadcast cross join. No step reads the corpus twice — at
    100 TB this costs exactly what tokenize-and-count costs."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    corpus = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    tot = corpus.agg(F.sum("cnt").alias("total"))
    return (
        tf.join(corpus, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "total")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("cnt")).alias("freq_mass"),
            F.sum((F.col("cnt") == 1).cast("long")).alias("n_hapax"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "freq_mass",
            "n_hapax",
            (
                F.col("freq_mass").cast("double")
                / (F.col("n_tokens") * F.col("total"))
            ).alias("commonness"),
        )
    )


@register(
    "text_tfidf_topk",
    oracle="""
    WITH tf AS (
      SELECT doc_id, token AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY doc_id, token
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             CAST(tf.tf AS DOUBLE) * ((n.n_docs + 1.0) / (df.df + 1.0)) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, score, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT doc_id, term, tf, df, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk
      FROM scored)
    WHERE rnk <= 5
    """,
    category="text-analysis",
    origin="EXT",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 salient terms per document by TF-IDF-style weighting — the
    standard keyword/topic signal a training-data pipeline derives before
    clustering or quality filtering.

    The IDF factor is the RATIONAL form ``(N+1)/(df+1)`` rather than its
    logarithm: ``log`` is evaluated by different libm implementations on the
    JVM vs DuckDB and can differ in the last ulp, which would break the
    oracle's value-hash; the rational form is a single IEEE division, exact
    on both engines, and preserves the salient-term intent (monotone
    decreasing in df).

    Plan shape: one shuffle on (doc_id, term) for TF with map-side combine,
    one map-side-combinable aggregate of that result for DF (term
    cardinality ≪ corpus — AQE broadcasts the join back), corpus count as a
    broadcast 1-row cross join, then a per-doc top-k window partitioned on
    doc_id. No step touches the corpus more than once; at 100 TB the only
    large shuffle is the (doc_id, term) count — high-cardinality keys, even
    spread."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * ((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
            ).alias("score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "term", "tf", "df", "score", F.col("rnk").cast("long").alias("rnk"))
    )


@register(
    "docs_length_histogram",
    oracle="""
    SELECT lang,
           CAST(length(bin(n_chars)) AS INT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY 1, 2
    """,
    category="text-analysis",
    origin="EXT",
)
def docs_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two length histogram of the corpus per language — the
    profile every curation run draws first (truncation tails, suspicious
    spikes at crawler limits, per-language length skew before packing).

    The bucket is ``length(bin(n_chars))`` = ⌊log₂ n⌋+1 computed on the
    INTEGER's binary representation — no floating log whose IEEE rounding
    could straddle a power-of-two boundary differently per engine; both
    Spark's and DuckDB's ``bin()`` emit the same minimal binary string.

    Plan: pure map + ONE map-side-combined exchange over
    (lang × ~20 buckets) groups; the scan reads only (lang, n_chars) —
    column pruning is plan-gated. Unconditionally linear at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            "lang", F.length(F.bin("n_chars")).cast("int").alias("log2_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


TOP_NGRAMS_K = 8  # per-language leaderboard depth


@register(
    "docs_ngram_topk_per_lang",
    oracle=f"""
    WITH w AS (
      SELECT lang,
             list_filter(string_split_regex(replace(lower(text), chr(775), ''),
                                            '[^a-z0-9]+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    g AS (
      SELECT lang, ws[i] || ' ' || ws[i+1] AS gram
      FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) t
      WHERE len(ws) >= 2
    ),
    c AS (
      SELECT lang, gram, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM g GROUP BY lang, gram
    )
    SELECT lang, gram, cnt, rnk
    FROM (
      SELECT lang, gram, cnt,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, gram)
                  AS BIGINT) AS rnk
      FROM c
    ) ranked
    WHERE rnk <= {TOP_NGRAMS_K}
    """,
    category="text-analysis",
    origin="EXT",
)
def docs_ngram_topk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k word bigrams per language — the corpus statistic a tokenizer/
    vocabulary build starts from (merge-pair candidates, boilerplate
    phrase detection).

    Dialect care: the word-pair walk guards ``size(ws) < 2`` explicitly
    (the oracle's ``generate_series(1, 0)`` is empty but Spark's
    ``sequence(1, 0)`` would be DESCENDING — round-5 checklist — so
    neither dialect relies on the degenerate bound);
    words are pre-filtered non-empty so ``concat`` never sees a NULL; the
    rank is ROW_NUMBER (unique, tie-broken on the gram string), not RANK,
    so the k-cut is deterministic on both engines.

    Plan at scale: explode to (lang, gram) → ONE map-side-combinable count
    shuffle keyed on the high-cardinality gram (even distribution — no hot
    key can exceed its own corpus frequency); the rank window then sorts
    only the per-lang AGGREGATE (vocabulary-sized, not corpus-sized). The
    alternative — windowing the exploded rows — would sort the corpus; this
    shape never sorts anything bigger than the distinct-gram table."""
    docs = load_table(spark, sf_dir, "documents")
    # Materialize the word array as a COLUMN before deriving grams: higher-
    # order expressions don't share subexpressions across lambda
    # boundaries, so inlining `ws` into a per-element element_at() re-ran
    # the regex split once per gram — measured 7× slower at sf0.1 (6.7 s vs
    # 0.9 s warm). With `ws` as an attribute, the split runs once per row
    # and the pair walk is a single zip_with pass over two slices.
    # strip U+0307 (combining dot above) AFTER lowering, in BOTH dialects:
    # Java's lower('İ') is 'i' + U+0307 (2 code points) while DuckDB's is
    # plain 'i' — unmirrored, the combining mark acts as a word separator
    # on one engine only and splits 'istanbul' into 'i' + 'stanbul'
    # (round-8 unicode sweep). A literal U+0307 in input strips on both
    # sides identically, so parity holds for any text.
    ws = F.filter(
        F.split(
            F.replace(F.lower("text"), F.lit("̇"), F.lit("")),
            "[^a-z0-9]+",
        ),
        lambda x: x != F.lit(""),
    )
    wsdf = docs.select("lang", ws.alias("ws"))
    grams = F.when(F.size("ws") < 2, F.array()).otherwise(
        F.zip_with(
            F.slice("ws", 1, F.size("ws") - 1),
            F.slice("ws", 2, F.size("ws") - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    )
    counted = (
        wsdf.select("lang", F.explode(grams).alias("gram"))
        .groupBy("lang", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("gram").asc())
    return (
        counted.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_NGRAMS_K)
        .select("lang", "gram", "cnt", "rnk")
    )


N_PPL_BUCKETS = 3  # CCNet's head / middle / tail


@register(
    "docs_perplexity_buckets",
    oracle=f"""
    WITH lm AS ({_UNIGRAM_LM_ORACLE}),
    scored AS (
      SELECT d.lang, lm.n_tokens, lm.commonness,
             NTILE({N_PPL_BUCKETS}) OVER (
               PARTITION BY d.lang ORDER BY lm.commonness, lm.doc_id
             ) AS bucket
      FROM lm JOIN documents d ON lm.doc_id = d.doc_id
    )
    SELECT lang, CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           MIN(commonness) AS min_commonness,
           MAX(commonness) AS max_commonness
    FROM scored
    GROUP BY lang, bucket
    """,
    category="text-analysis",
    origin="EXT",
)
def docs_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing: split each language's documents into
    head/middle/tail thirds by their corpus-LM score (here the exact
    rational ``commonness`` from ``text_unigram_lm_score`` — same ordering
    role as CCNet's wiki-LM perplexity) and report each bucket's census.
    The head/tail census is how a curation pipeline decides how much of
    each quality band to keep.

    Determinism care: the NTILE ordering carries a doc_id tiebreak (equal
    scores would otherwise split across a bucket boundary differently per
    engine); bucket stats are exact ints plus MIN/MAX of per-doc doubles
    that are themselves hash-green — no order-dependent float SUM/AVG.

    Plan at scale: Catalyst re-derives the LM query's tf subtree for its
    corpus/total consumers (no logical-plan CSE), but AQE's
    ReusedExchange dedupes the repeated shuffle at runtime; a production
    materialization would persist the (doc, term, tf) aggregate once and
    fan out from it. The NTILE window partitions by lang over
    (doc_id, score) rows — a per-lang sort of doc-count rows, not corpus
    tokens; the final census is a 15-row aggregate. If one language
    dominated the corpus, the per-lang sort is the pressure point — the
    salted two-stage device (agg_skew_salted) or an approx-quantile cut
    would replace exact NTILE at that point."""
    docs = load_table(spark, sf_dir, "documents")
    lm = text_unigram_lm_score(spark, sf_dir)
    scored = lm.join(docs.select("doc_id", "lang"), "doc_id")
    w = W.partitionBy("lang").orderBy(F.col("commonness").asc(), F.col("doc_id").asc())
    return (
        scored.withColumn("bucket", F.ntile(N_PPL_BUCKETS).over(w).cast("long"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("commonness").alias("min_commonness"),
            F.max("commonness").alias("max_commonness"),
        )
    )


# Character-class census regexes: Spark (Java regex) and DuckDB (RE2)
# spell the CJK block differently; the class census itself is exact
# integer arithmetic. DuckDB's regexp_replace needs the explicit 'g' flag
# (it replaces FIRST match by default — Spark replaces all).
_CHAR_CLASSES = [
    ("n_lower", "[a-z]", "[a-z]"),
    ("n_upper", "[A-Z]", "[A-Z]"),
    ("n_digit", "[0-9]", "[0-9]"),
    # explicit whitespace class, IDENTICAL in both dialects: Java's \s
    # includes U+000B (vertical tab) but RE2's does not — a shorthand-class
    # divergence of the round-5 checklist kind (round-6 review finding,
    # reproduced with a chr(11) fixture)
    ("n_space", r"[ \t\n\x0B\f\r]", r"[ \t\n\x0B\f\r]"),
    ("n_cjk", r"[一-鿿]", r"[\x{4e00}-\x{9fff}]"),
]


def _char_class_oracle() -> str:
    cls = ",\n           ".join(
        f"CAST(SUM(length(text) - length(regexp_replace(text, '{ddb}', '', 'g')))"
        f" AS BIGINT) AS {name}"
        for name, _, ddb in _CHAR_CLASSES
    )
    return f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars,
           {cls},
           CASE WHEN SUM(length(text)) = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(SUM(length(text) - length(regexp_replace(text, '[a-z]', '', 'g')))
                       AS DOUBLE) / SUM(length(text))
           END AS lower_ratio
    FROM documents
    GROUP BY lang
    """


@register(
    "docs_char_class_profile",
    oracle=_char_class_oracle(),
    category="text-analysis",
    origin="EXT",
)
def docs_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-class census — the charset audit a corpus
    ingest runs before picking filters (is the 'en' slice actually Latin?
    how much CJK leaked into 'de'? what's the digit/whitespace load?).

    Counting device: class count = length(text) − length(text with the
    class deleted) — pure JVM expressions, exact integers, no explode.
    The one ratio divides two exact ints (identical doubles both engines)
    and guards the 0-char denominator in BOTH dialects (round-5 IEEE
    checklist: 0/0 is NaN on one engine, NULL on the other).

    Plan at scale: a single map-only pass over documents into a ≤|langs|
    map-side-combinable aggregate — the cheapest possible shape; scales
    with scan bandwidth."""
    docs = load_table(spark, sf_dir, "documents")
    tlen = F.length("text")
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tlen).alias("n_chars"),
    ]
    for name, spark_re, _ in _CHAR_CLASSES:
        aggs.append(
            F.sum(tlen - F.length(F.regexp_replace("text", spark_re, ""))).alias(name)
        )
    out = docs.groupBy("lang").agg(*aggs)
    return out.withColumn(
        "lower_ratio",
        F.when(F.col("n_chars") == 0, F.lit(0.0)).otherwise(
            F.col("n_lower").cast("double") / F.col("n_chars")
        ),
    )

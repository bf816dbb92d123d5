"""Accuracy floor for the heuristic language-ID (rows-only query).

The synthetic fixture's lang labels are only weakly coupled to content
(word-frequency tilts; a word-unigram naive-Bayes prototype also plateaus
at ~35%), so the gate is 'solidly above 5-class chance', pinning that the
profile-join + argmax machinery keeps extracting the signal that exists —
the same role tests/test_ann_recall.py plays for the approximate ANN."""

from __future__ import annotations

from pyspark.sql import functions as F

from transf_spark.operators.text import language_id_predictions
from transf_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
CHANCE = 0.20  # 5 languages
FLOOR = 0.28


def test_language_id_beats_chance(spark):
    pred = language_id_predictions(spark, SF)
    truth = load_table(spark, SF, "documents").select("doc_id", "lang")
    acc = (
        pred.join(truth, "doc_id")
        .agg(F.avg((F.col("predicted_lang") == F.col("lang")).cast("double")))
        .collect()[0][0]
    )
    assert acc >= FLOOR, f"language-ID accuracy {acc:.3f} fell below {FLOOR} (chance {CHANCE})"


def test_language_id_covers_every_document(spark):
    n_docs = load_table(spark, SF, "documents").count()
    assert language_id_predictions(spark, SF).count() == n_docs


def test_bigram_extraction_guards_short_texts(spark):
    """Regression: sequence(1, length-1) is DESCENDING for length <= 1 in
    Spark, so unguarded extraction gave a 1-char doc two phantom copies of
    its single char and an empty doc three '' bigrams. The guarded
    expression must yield exactly len-1 true 2-char bigrams, zero for
    short texts."""
    df = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, "ab"), (4, "abc"), (5, None)],
        "doc_id long, text string",
    )
    bigrams = F.expr(
        "filter(transform(sequence(1, greatest(length(text) - 1, 1)),"
        " i -> substring(text, i, 2)), x -> length(x) = 2)"
    )
    rows = {r["doc_id"]: r["bg"] for r in df.select("doc_id", bigrams.alias("bg")).collect()}
    assert rows[1] == []
    assert rows[2] == []
    assert rows[3] == ["ab"]
    assert rows[4] == ["ab", "bc"]
    # null text: greatest() skips the null length, substring(NULL,..) is
    # null, the length filter drops it — empty array, explode drops the doc
    assert rows[5] == []


def test_census_survives_argmax_losing_language(spark, tmp_path):
    """Round-13 review: Laplace-smoothed argmax does NOT guarantee every
    trainable language is somebody's prediction — a tiny language whose
    bigrams are relatively commoner inside a larger corpus loses the
    argmax even on its own documents. The census's old exact equality
    (n_langs_predicted == trainable count) hash-mismatched on such a
    corpus; the anti-collapse floor boolean must stay green on it."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle import compare
    from transf_spark.queries import REGISTRY, _load_all_modules

    docs = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "another english document with normal words", "en"),
        (3, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa", "en"),  # 39 'aa' bigrams
        (4, "der schnelle braune fuchs springt", "de"),
        (5, "noch ein deutsches dokument hier", "de"),
        (6, "aa", "zz"),  # zz's ONLY doc — argmax-predicted 'en'
    ]
    t = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs], pa.string()),
            "lang": pa.array([d[2] for d in docs], pa.string()),
            "source": pa.array(["s"] * len(docs), pa.string()),
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        }
    )
    pq.write_table(t, str(tmp_path / "documents.parquet"))

    _load_all_modules()
    spec = REGISTRY["text_language_id"]
    df = spec.fn(spark, str(tmp_path))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    problems = compare(df, con, spec.oracle)
    assert not problems, "; ".join(problems)
    rows = {r["lang"]: r for r in df.collect()}
    # the floor really is exercised: >= 2 languages predicted, all rows
    # carry the TRUE boolean the oracle hashes
    assert all(r["no_argmax_collapse"] for r in rows.values())


def test_fixtures_are_bmp_only_tripwire(spark):
    """Non-BMP tripwire (round-15 verdict item 8, citing the documented
    caveat in text.py::language_id_predictions): the bigram kernel
    `regexp_extract_all(text, '(?s)(?=(..))', 1)` advances CODE-UNIT-wise
    on surrogate pairs, so a document containing supplementary-plane
    characters (U+10000..U+10FFFF) contributes a slightly different
    bigram multiset than a code-point walk would — train and score share
    the kernel, so declared invariants hold either way, but a regenerated
    fixture with non-BMP text would regrade this query against an oracle
    that may disagree on accuracy-floor edges. This test fails LOUDLY the
    moment any fixture's documents gain non-BMP text, so that the caveat
    is re-evaluated instead of silently biting."""
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        docs = load_table(spark, f"/root/testdata/{sf}", "documents")
        n_bad = docs.filter(
            F.col("text").rlike("[\\x{10000}-\\x{10FFFF}]")
        ).count()
        assert n_bad == 0, (
            f"{sf}: {n_bad} documents contain supplementary-plane text — "
            "re-evaluate the code-unit bigram caveat in "
            "text.py::language_id_predictions before trusting oracle parity"
        )


def test_distributed_profile_fallback_identical(spark, monkeypatch, tmp_path):
    """Above LANG_ID_GRID_MAX_CELLS the collected literal grid is abandoned
    for the fully distributed profile aggregate. The two branches share
    the identical Spark-side log/quantize expression, so every
    (doc_id, predicted_lang, score) row must be bit-identical — forcing
    the fallback with a cap of 0 and comparing against the literal-grid
    output proves it. Second case: training docs with NULL lang, which the
    literal grid profiles as their own candidate — a null-unsafe lang join
    in the fallback floors every score of that candidate."""
    from tests.docfixtures import write_documents
    from transf_spark.operators import text as text_mod

    null_lang = write_documents(
        str(tmp_path),
        [
            (1, "hello there, hello world", "en", "s"),
            (2, "zzyzx zzyzx zzyzx", None, "s"),
            (3, "zzyzx and more zzyzx", None, "s"),
            (4, "the world says hello", "en", "s"),
        ],
    )

    def rows(sf_dir):
        return sorted(
            (
                (r["doc_id"], r["predicted_lang"], r["score"])
                for r in language_id_predictions(spark, sf_dir).collect()
            ),
            key=repr,
        )

    for sf_dir in (SF, null_lang):
        base = rows(sf_dir)
        with monkeypatch.context() as m:
            m.setattr(text_mod, "LANG_ID_GRID_MAX_CELLS", 0)
            fb = rows(sf_dir)
        assert fb == base, f"{sf_dir}: distributed fallback diverged from the literal grid"
    assert (2, None) in {(d, lang) for d, lang, _ in base}, "NULL lang not exercised"

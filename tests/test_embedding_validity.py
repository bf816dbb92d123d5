"""Round-13 review regressions for the similarity family's strengthened
input-validity contract: a regenerated embeddings fixture bearing a NULL
element, an EMPTY vector, or a SHORT (corrupt) first-scanned vector must
leave every similarity query and its DuckDB oracle in exact agreement —
previously the oracles hard-errored (list_dot_product on NULL elements)
or INTERNAL-errored (empty lists, invalidating the whole connection)
while Spark silently emitted NULLs, and _corpus_dim's first()-row
dependence let one degenerate row collapse the LSH index."""

from __future__ import annotations

import shutil

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from tests.oracle import compare
from transf_spark.queries import REGISTRY, _load_all_modules

_QUERIES = [
    "similarity_topk_cosine",
    "dedup_embedding_cosine",
    "embedding_norm_stats",
    "embedding_quantize_int8",
    "embedding_label_centroid_cosine",
    "embedding_kmeans",
    "embedding_pca_project",
    "similarity_ann_lsh",
    "similarity_ann_ivf",
]


@pytest.fixture(scope="module")
def corrupt_dir(tmp_path_factory):
    """sf0.001 embeddings with: vec_id[0] -> one NULL element,
    vec_id[1] -> EMPTY vector, vec_id[2] -> NULL vector, the
    FIRST-BY-LAYOUT row replaced by a SHORT 3-dim vector (the
    _corpus_dim first()-row trap), and (round 14) KEY degeneracy — a
    NULL vec_id on a VALID vector (crashed the k-means/IVF seed
    sample's driver-side sort before the validity contract gained the
    key term), a duplicated vec_id (collapsed by the old
    groupBy(vec_id) optimality re-check), NULL/out-of-domain labels,
    and (round 15) NON-FINITE elements — NaN/±Inf, which pre-fix gave
    NaN cosines that DuckDB ranks FIRST under DESC while the Spark
    kernel sinks to -inf, and NaN centroid means that crashed the
    kmeans literal plan build ('nanD'). documents/events copied
    verbatim (some queries stage from them)."""
    src = "/root/testdata/sf0.001"
    out = tmp_path_factory.mktemp("corrupt_sf")
    t = pq.read_table(f"{src}/embeddings.parquet")
    ids = t["vec_id"].to_pylist()
    embs = t["embedding"].to_pylist()
    labels = t["label"].to_pylist()
    embs[0] = embs[0][:4] + [None] + embs[0][5:]  # NULL element
    embs[1] = []  # empty vector
    embs[2] = None  # NULL vector
    embs[3] = embs[3][:3]  # short corrupt vector
    ids[5] = None  # NULL key on a valid vector (round-14 key probe)
    ids[8] = ids[9]  # duplicate key across two distinct vectors
    labels[6] = None
    labels[7] = -1  # out-of-domain label
    # round-15 finite-element probe: one NaN, one +Inf, one -Inf element
    embs[10] = embs[10][:2] + [float("nan")] + embs[10][3:]
    embs[11] = embs[11][:1] + [float("inf")] + embs[11][2:]
    embs[12] = embs[12][:6] + [float("-inf")] + embs[12][7:]
    # move the short row FIRST in file order so first()-style dim probes
    # would see it
    order = [3] + [i for i in range(len(ids)) if i != 3]
    t2 = pa.table(
        {
            "vec_id": pa.array([ids[i] for i in order], pa.int64()),
            "embedding": pa.array([embs[i] for i in order],
                                  pa.list_(pa.float32())),
            "label": pa.array([labels[i] for i in order], pa.int32()),
        }
    )
    pq.write_table(t2, str(out / "embeddings.parquet"))
    for name in ("documents", "events"):
        shutil.copy(f"{src}/{name}.parquet", str(out / f"{name}.parquet"))
    return str(out)


@pytest.mark.parametrize("name", _QUERIES)
def test_similarity_family_survives_corrupt_embeddings(spark, corrupt_dir, name):
    _load_all_modules()
    spec = REGISTRY[name]
    df = spec.fn(spark, corrupt_dir)
    con = duckdb.connect()
    for tbl in ("documents", "events", "embeddings"):
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM "
            f"read_parquet('{corrupt_dir}/{tbl}.parquet')"
        )
    problems = compare(df, con, spec.oracle)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_dlit_non_finite_and_edge_doubles_roundtrip(spark):
    """Round-15 ADVICE: the literal-array builder must emit parseable SQL
    for NON-FINITE doubles (plain ``repr(float)!r + 'D'`` produced the
    unresolvable tokens 'nanD'/'infD' and crashed the plan build) and stay
    bit-exact on the finite edge cases the fast path relies on (subnormal
    min, -0.0, max double)."""
    import math

    from transf_spark.operators.similarity import _dlit_matrix

    vals = [
        [float("nan"), float("inf"), float("-inf")],
        [5e-324, -0.0, 1.7976931348623157e308],
    ]
    (m,) = spark.sql(f"SELECT {_dlit_matrix(vals)} AS m").first()
    assert math.isnan(m[0][0])
    assert m[0][1] == float("inf") and m[0][2] == float("-inf")
    assert m[1][0] == 5e-324
    assert m[1][1] == 0.0 and math.copysign(1.0, m[1][1]) == -1.0
    assert m[1][2] == 1.7976931348623157e308


def test_corpus_dim_ignores_degenerate_first_row(spark, corrupt_dir):
    """The LSH dim must be the corpus max, not whatever row first()
    happens to scan — with the short 3-dim row FIRST in file order the
    planes must still build at the full dimension. A fresh session has an
    empty memo, so the dimension is computed here, not recalled."""
    from transf_spark.operators import similarity as S

    d = S._corpus_dim(spark.newSession(), corrupt_dir)
    assert d > 3, f"corpus dim collapsed to the corrupt row's {d}"

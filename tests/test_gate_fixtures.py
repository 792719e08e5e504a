"""Gate queries that return no rows at sf0.01 on both engines, checked on
small fixtures where they do return rows. At sf0.01 every customer has an
order, every token occurs more than 8 times and no two embeddings reach
cosine 0.8, so the gate's hash comparison there is between two empty sets;
here Spark's rows must equal DuckDB's, compared as the gate compares them."""

import importlib.util
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from knowledge_extraction_pipeline_spark.queries import ORACLE, QUERIES


def _value_hash():
    path = Path(__file__).resolve().parents[1] / "scripts" / "check_correctness.py"
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


def _agree(spark, tmp_path, name: str, tables: dict[str, pa.Table]) -> int:
    import duckdb

    con = duckdb.connect()
    for t, data in tables.items():
        pq.write_table(data, tmp_path / f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tmp_path / t}.parquet')")
    sdf = QUERIES[name](spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(ORACLE[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    value_hash = _value_hash()
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows)
    assert value_hash(sdf.columns, srows) == value_hash(dcols, drows)
    return len(srows)


def test_customers_no_orders_antijoin_matches_duckdb(spark, tmp_path):
    segments = ["AUTO", "BUILD", "FURN"]
    customer = pa.table({
        "c_custkey": pa.array(range(12), pa.int64()),
        "c_mktsegment": [segments[k % 3] for k in range(12)],
    })
    # customers 0, 4 and 8 order; the other nine do not
    orders = pa.table({"o_orderkey": pa.array(range(6), pa.int64()),
                       "o_custkey": pa.array([0, 4, 8, 0, 4, 8], pa.int64())})
    assert _agree(spark, tmp_path, "q_customers_no_orders_antijoin",
                  {"customer": customer, "orders": orders}) == 3


def test_good_turing_matches_duckdb(spark, tmp_path):
    # token wK_i occurs K times, for K = 1..10 and three tokens per count,
    # so the frequency-of-frequencies table has every r <= 8 and r + 1
    words = [f"w{k}_{i}" for k in range(1, 11) for i in range(3) for _ in range(k)]
    texts = [" ".join(words[j::4]) for j in range(4)] + ["  MIXED Case  w1_0 "]
    documents = pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()),
                          "text": texts})
    assert _agree(spark, tmp_path, "text_good_turing", {"documents": documents}) == 8


def test_embedding_cosine_matches_duckdb(spark, tmp_path):
    import random

    rng = random.Random(5)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(6)]
    # each base vector, a copy scaled by 2 (cosine 1) and one with a small
    # perturbation (cosine ~0.999); distinct base vectors stay far apart
    vecs = [v for b in base for v in (b, [2 * x for x in b],
                                      [x + rng.gauss(0, 0.02) for x in b])]
    embeddings = pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([i // 3 for i in range(len(vecs))], pa.int32()),
    })
    assert _agree(spark, tmp_path, "dedup_embedding_cosine",
                  {"embeddings": embeddings}) >= 3 * len(base)

"""Tests for the benchmark's own helpers (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
import procfs  # noqa: E402
import stats  # noqa: E402
from oracle import answer_diff, canonical_rows, floats_match, reference_sql  # noqa: E402


# -- percentile rule -------------------------------------------------------

def test_tail_picks_highest_percentile_with_ten_samples_beyond():
    assert stats.tail(list(range(19))) is None
    t = stats.tail([float(x) for x in range(20)])
    assert (t["p"], t["n"]) == (50.0, 20)
    assert t["value"] == 9.5
    assert stats.tail([0.0] * 99)["p"] == 50.0
    assert stats.tail([0.0] * 100)["p"] == 90.0
    assert stats.tail([0.0] * 999)["p"] == 90.0
    assert stats.tail([0.0] * 1000)["p"] == 99.0
    assert stats.tail([0.0] * 10_000)["p"] == 99.9


def test_percentile_matches_numpy_linear():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.3]
    for p in (0, 10, 50, 90, 99.9, 100):
        assert abs(stats.percentile(xs, p) - np.percentile(xs, p)) < 1e-12


# -- generator determinism -------------------------------------------------

def test_documents_are_seed_deterministic():
    a = datagen.documents_table(7, 200, 20)
    b = datagen.documents_table(7, 200, 20)
    c = datagen.documents_table(8, 200, 20)
    assert a.equals(b)
    assert not a.equals(c)
    assert a.num_rows == 220
    assert a["doc_id"].to_pylist() == list(range(220))
    texts = a["text"].to_pylist()
    assert all(t.count("dup") >= 1 for t in texts[200:])


def test_vectors_are_seed_deterministic_unit_vectors():
    a = datagen.clustered_vectors(7, 300)
    assert np.array_equal(a, datagen.clustered_vectors(7, 300))
    assert not np.array_equal(a, datagen.clustered_vectors(8, 300))
    assert a.shape == (300, 64) and a.dtype == np.float32
    assert np.allclose(np.linalg.norm(a, axis=1), 1.0, atol=1e-5)
    # a longer draw extends a shorter one, so append batches are stable
    assert np.array_equal(a[:100], datagen.clustered_vectors(7, 300)[:100])


def test_tables_are_byte_identical_per_seed(tmp_path):
    scale = datagen.Scale(sf=0.001, events=500, docs=30, near_dups=3)
    for d in ("a", "b"):
        datagen.write_all(str(tmp_path / d), 3, scale)
    for name in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / name).read_bytes() == \
            (tmp_path / "b" / name).read_bytes(), name


def test_embeddings_table_ids_follow_offset():
    t = datagen.embeddings_table(datagen.clustered_vectors(1, 5), first_id=10)
    assert t["vec_id"].to_pylist() == [10, 11, 12, 13, 14]
    assert t.schema.field("embedding").type == pa.list_(pa.float32())


# -- /proc/stat steal delta ------------------------------------------------

STAT_A = """cpu  100 0 50 1000 5 0 2 7 0 0
cpu0 50 0 25 500 2 0 1 3 0 0
intr 1 2 3
"""
STAT_B = """cpu  180 0 70 1900 5 0 2 19 0 0
cpu0 90 0 35 950 2 0 1 9 0 0
"""


def test_steal_parser_reads_aggregate_cpu_line():
    assert procfs.parse_cpu_steal(STAT_A) == 7
    assert procfs.steal_delta(STAT_A, STAT_B) == 12


def test_steal_parser_old_kernel_without_steal_field():
    assert procfs.parse_cpu_steal("cpu  1 2 3 4 5 6 7\n") == 0


def test_steal_parser_rejects_text_without_cpu_line():
    try:
        procfs.parse_cpu_steal("intr 1 2\n")
    except ValueError:
        return
    raise AssertionError("expected ValueError")


def test_steal_parser_on_this_host():
    assert procfs.parse_cpu_steal(procfs.read_proc_stat()) >= 0


# -- oracle rewrite --------------------------------------------------------

def test_reference_sql_leaves_other_queries_alone():
    sql = "SELECT 1 FROM t"
    assert reference_sql(sql) == sql


def test_reference_sql_sparse_pairs_match_quadratic_join():
    import duckdb

    docs = datagen.documents_table(11, 120, 30)
    con = duckdb.connect()
    con.register("documents", docs)
    sql = (
        "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
        "g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1), "
        "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gs FROM w "
        "WHERE len(ws) >= 3) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM g a JOIN g b ON a.doc_id < b.doc_id WHERE "
        "CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) / (len(a.gs) + "
        "len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.9"
    )
    fast = reference_sql(sql)
    assert fast != sql
    want = sorted(con.execute(sql).fetchall())
    assert want  # the planted copies give real pairs
    assert sorted(con.execute(fast).fetchall()) == want


# -- answer comparison -------------------------------------------------------

def test_answer_diff_ignores_row_order_and_column_order():
    import pandas as pd

    want = canonical_rows(pd.DataFrame({"k": ["a", "b"], "v": [1.5, 2.25]}))
    got = pd.DataFrame({"v": [2.25, 1.5], "k": ["b", "a"]})
    assert answer_diff(got, want) is None


def test_answer_diff_accepts_a_rounding_tie_decided_either_way():
    import pandas as pd

    # the exact sum ends in ...125: one engine's double sum rounds to .12,
    # the other's to .13
    want = canonical_rows(pd.DataFrame({"n": ["N2", "N7"],
                                        "rev": [3904931.12, 2859417.31]}))
    got = pd.DataFrame({"n": ["N7", "N2"], "rev": [2859417.31, 3904931.13]})
    assert answer_diff(got, want) is None
    assert floats_match(1234.5678901234, 1234.5678901237)


def test_answer_diff_reports_real_differences():
    import pandas as pd

    want = canonical_rows(pd.DataFrame({"n": ["a", "b"], "v": [10.12, 3.0]}))
    assert answer_diff(pd.DataFrame({"n": ["a", "b"], "v": [10.14, 3.0]}), want)
    # integer-valued doubles must match exactly
    assert answer_diff(pd.DataFrame({"n": ["a", "b"], "v": [10.12, 4.0]}), want)
    assert answer_diff(pd.DataFrame({"n": ["a", "c"], "v": [10.12, 3.0]}), want)
    assert answer_diff(pd.DataFrame({"n": ["a"], "v": [10.12]}), want)
    assert answer_diff(pd.DataFrame({"n": ["a", "b"], "w": [10.12, 3.0]}), want)
    # unrounded values get no rounding-step allowance
    assert not floats_match(0.1234567891, 0.1234567991)

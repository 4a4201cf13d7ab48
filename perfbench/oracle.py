"""Answer comparison and DuckDB reference answers.

A Spark result matches its DuckDB reference when both have the same
column names and the same rows in any order. Cells that are not floats
must be equal as canonical strings. Float cells may differ only as two
correct double-precision answers can: by summation order (a relative
1e-9), or by a rounding tie that the two sums put on opposite sides. The
second case is real: prices and discounts of two decimals give sums whose
exact value can end in ...5 at the third decimal, so
``ROUND(SUM(...), 2)`` is 0.12 on one side and 0.13 on the other. Such a
pair is accepted when both cells are rounded to the same number of
places and differ by one step in the last place.
"""

from __future__ import annotations

import datetime
import math
import os

import numpy as np
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

#: relative tolerance for unrounded float cells (summation order)
REL_TOL = 1e-9


def _cell(v):
    """A float, or the canonical string of any other value (None for NULL)."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_text(_cell(x)) for x in v) + "]"
    return str(v)


def _text(c) -> str:
    if c is None:
        return "NULL"
    return repr(round(c, 9)) if isinstance(c, float) else c


def _row_key(row: tuple):
    # strings first, floats after, so that rows with equal keys line up on
    # both sides even when their float cells differ by a rounding step
    return (tuple(c if isinstance(c, str) else "" for c in row),
            tuple((c is None, c if isinstance(c, float) else 0.0) for c in row))


def canonical_rows(pdf: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Sorted column names and the rows' canonical cells, sorted."""
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in row)
            for row in pdf[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows, key=_row_key)


def _places(x: float) -> int | None:
    """The fewest decimal places (1-6) that ``x`` is rounded to, if any."""
    for d in range(1, 7):
        if abs(x - round(x, d)) <= 2 * math.ulp(x):
            return d
    return None


def floats_match(a: float, b: float) -> bool:
    """Equal up to summation order or one rounding tie (module docstring)."""
    if abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b)):
        return True
    pa_, pb = _places(a), _places(b)
    if pa_ is None or pb is None:
        return False
    step = 10.0 ** -max(pa_, pb)
    return abs(a - b) <= step * (1 + 1e-6)


def _cells_match(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return floats_match(a, b)
    return a == b


def answer_diff(got: pd.DataFrame, want: tuple[list[str], list[tuple]]) -> str | None:
    """None when ``got`` matches the reference ``want`` (from
    ``canonical_rows``), else a short description of the first difference."""
    cols, rows = canonical_rows(got)
    w_cols, w_rows = want
    if cols != w_cols:
        return f"columns {cols} != reference {w_cols}"
    if len(rows) != len(w_rows):
        return f"{len(rows)} rows != reference {len(w_rows)}"
    for i, (r, w) in enumerate(zip(rows, w_rows)):
        if len(r) != len(w) or not all(map(_cells_match, r, w)):
            return (f"row {i} {[_text(c) for c in r]} != reference "
                    f"{[_text(c) for c in w]}")
    return None


class Oracle:
    """A DuckDB connection with the input tables registered as views."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            if not os.path.exists(f"{data_dir}/{t}.parquet"):
                continue
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')"
            )

    def frame(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetchdf()

    def answer(self, sql: str) -> tuple[list[str], list[tuple]]:
        """Canonical rows of ``sql``'s answer (see ``canonical_rows``)."""
        return canonical_rows(self.frame(reference_sql(sql)))

    def close(self) -> None:
        self.con.close()


# The near-duplicate oracles compare every document pair
# (``FROM g a JOIN g b ON a.doc_id < b.doc_id``), which is quadratic in the
# corpus. The rewrite below first finds the pairs whose shared-gram count
# already meets the Jaccard threshold through a gram-keyed self-join, then
# keeps the registry's own pairwise predicate on those candidates only.
# Any pair with Jaccard >= 0.9 shares grams, so the answer is unchanged.
_PAIRWISE = "FROM g a JOIN g b ON a.doc_id < b.doc_id WHERE"
_CANDIDATES = (
    "__x AS (SELECT doc_id, len(gs) AS n, unnest(gs) AS gram FROM g), "
    "__cand AS (SELECT a.doc_id AS ca, b.doc_id AS cb FROM __x a JOIN __x b "
    "ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY a.doc_id, "
    "b.doc_id, a.n, b.n HAVING CAST(COUNT(*) AS DOUBLE) / "
    "(a.n + b.n - COUNT(*)) >= 0.9), "
)


def _cte_span(sql: str, name: str) -> tuple[int, int]:
    """[start, end) of the parenthesised body of CTE ``name`` in ``sql``."""
    start = sql.index("(", sql.index(f" {name} AS ("))
    depth = 0
    for i in range(start, len(sql)):
        depth += {"(": 1, ")": -1}.get(sql[i], 0)
        if depth == 0:
            return start, i + 1
    raise ValueError(f"unbalanced CTE {name!r}")


def reference_sql(sql: str) -> str:
    """``sql`` with any quadratic near-duplicate pair join made sparse."""
    if _PAIRWISE not in sql:
        return sql
    # the CTE list continues after g's closing parenthesis
    _start, end = _cte_span(sql, "g")
    head, rest = sql[:end], sql[end:]
    if rest.lstrip().startswith(","):
        rest = ", " + _CANDIDATES + rest.lstrip()[1:].lstrip()
    else:  # g is the last CTE: the main SELECT follows
        rest = ", " + _CANDIDATES.rstrip(", ") + " " + rest.lstrip()
    return (head + rest).replace(
        _PAIRWISE,
        "FROM g a JOIN g b ON a.doc_id < b.doc_id JOIN __cand "
        "ON __cand.ca = a.doc_id AND __cand.cb = b.doc_id WHERE",
    )

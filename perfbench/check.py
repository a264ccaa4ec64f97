"""Output checks. Each returns ``None`` when the output is right and a short
reason when it is wrong; a wrong output counts as a failed operation.

Query results are canonicalized and compared by ``tools/check_values.py``:
columns sorted by name, cells normalized, rows sorted by ``repr``; floats
and mixed int/float cells compare at a relative tolerance of 1e-9. This
module only adds the conversions that let a canonical result be stored
as JSON (timestamps as ISO strings, list cells as lists) and read back.
"""

from __future__ import annotations

from tools.check_values import _compare, _rows_sorted


def _jsonable(v):
    if isinstance(v, tuple):
        return [_jsonable(x) for x in v]
    if hasattr(v, "isoformat"):
        import pandas as pd

        return pd.Timestamp(v).isoformat()
    return v


def _tupled(v):
    return tuple(_tupled(x) for x in v) if isinstance(v, list) else v


def canonical_rows(cols: list[str], pdf) -> list[list]:
    """Rows of a pandas frame, canonicalized as ``check_values`` does, in a
    form JSON can store."""
    rows = _rows_sorted(cols, list(pdf.itertuples(index=False, name=None)))
    return [_jsonable(r) for r in rows]


def query_result(cols: list[str], pdf, oracle: dict) -> str | None:
    """Compare a Spark result (column names + ``toPandas`` frame) with the
    stored DuckDB twin result."""
    if sorted(cols) != oracle["columns"]:
        return f"columns {sorted(cols)} != {oracle['columns']}"
    got = [_tupled(r) for r in canonical_rows(cols, pdf)]
    want = [_tupled(r) for r in oracle["rows"]]
    _, equal, dev = _compare(got, want)
    if not equal:
        return f"{len(got)} rows vs {len(want)} differ from the DuckDB twin (max rel dev {dev:g})"
    return None


def letter_rows(rows, truth: dict) -> str | None:
    """``letter_counter`` rows equal the 26 ground-truth counts, A..Z."""
    got = [(r[0], int(r[1])) for r in rows]
    want = sorted(truth["letters"].items())
    if got != want:
        bad = [(g, w) for g, w in zip(got, want) if g != w][:3]
        return f"letter counts differ: {bad or (len(got), len(want))}"
    return None


def mapreduce_lines(lines: list[str], truth: dict) -> str | None:
    """``run_mapreduce`` letter lines (``"A 123"``) equal the ground truth."""
    want = [f"{k} {v}" for k, v in sorted(truth["letters"].items())]
    if list(lines) != want:
        return f"mapreduce lines differ: {list(lines)[:3]} vs {want[:3]}"
    return None


def finder_count(n: int, truth: dict, what: str) -> str | None:
    if n != truth["finder_lines"]:
        return f"{what}: {n} lines != oracle {truth['finder_lines']}"
    return None


def clusters(labels, truth: dict) -> str | None:
    """Connected-component labels (``(node, label)`` pairs) group the
    documents exactly as the planted chains do."""
    groups: dict[int, list[int]] = {}
    for node, label in labels:
        groups.setdefault(int(label), []).append(int(node))
    got = sorted(sorted(m) for m in groups.values())
    want = truth["clusters"]
    if got != want:
        n_docs = sum(len(m) for m in got)
        return (
            f"{len(got)} clusters over {n_docs} docs != "
            f"{len(want)} planted over {truth['docs']}"
        )
    return None

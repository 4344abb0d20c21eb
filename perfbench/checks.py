"""Output checks, run outside the timed span.

* extracted docs: every input doc must appear exactly once and equal
  ``oracle.semantics.extract_document`` (the pure-Python spec) under
  ``(kind, text, media_ref, order)`` equality;
* curation queries: the Spark result's ``frame_hash`` (the form
  ``tools/check_oracle.py`` uses) must equal the DuckDB
  ``oracle_sql()`` result's.

Each check returns ``(attempted, failed, notes)``; ``error_frac`` is
``failed / attempted``.
"""

from __future__ import annotations

import importlib.util
import os
from collections import Counter
from typing import Any, Callable, Iterable

from ocr_intern_spark.oracle.semantics import extract_document

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def expected_spans(doc: dict[str, Any], recognize: Callable) -> list[tuple]:
    return [tuple(s) for s in extract_document(doc["spans"], recognize)]


def check_extracted(
    out_rows: Iterable[tuple[str, list[tuple]]],
    inputs: dict[str, dict[str, Any]],
    recognize: Callable,
) -> tuple[int, int, list[str]]:
    """``out_rows``: ``(doc_id, [(kind, text, media_ref, order), ...])``
    as the program emitted them. One attempt per input doc; a doc fails
    when it is missing, emitted more than once or differs from the
    oracle. An emitted doc_id that is not an input also counts as a
    failure."""
    rows = list(out_rows)
    seen = Counter(doc_id for doc_id, _ in rows)
    got = dict(rows)
    notes: list[str] = []
    failed = 0
    for doc_id, doc in inputs.items():
        if seen[doc_id] == 0:
            failed += 1
            notes.append(f"missing {doc_id}")
        elif seen[doc_id] > 1:
            failed += 1
            notes.append(f"duplicated {doc_id} x{seen[doc_id]}")
        elif [tuple(s) for s in got[doc_id]] != expected_spans(doc, recognize):
            failed += 1
            notes.append(f"mismatch {doc_id}")
    extra = [d for d in seen if d not in inputs]
    failed += len(extra)
    notes.extend(f"unexpected {d}" for d in extra[:5])
    return len(inputs) + len(extra), failed, notes[:20]


def collect_extracted(df) -> list[tuple[str, list[tuple]]]:
    """Rows of an ``extracted(doc_id, spans)`` frame, collected into this
    process."""
    return [
        (r["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["order"])
                       for s in r["spans"]])
        for r in df.collect()
    ]


class QueryOracle:
    """DuckDB ``oracle_sql()`` hashes over the generated documents table,
    in ``tools/check_oracle.py``'s ``frame_hash`` form."""

    def __init__(self, doc_dir: str, names: list[str]):
        import duckdb

        import __spark_entry__ as entrymod

        self._co = _load_check_oracle()
        sql = entrymod.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(doc_dir, 'documents.parquet')}'"
            )
            self.expected = {}
            for name in names:
                res = con.sql(sql[name])
                cols = [c.lower() for c in res.columns]
                self.expected[name] = (sorted(cols), self._co.frame_hash(cols, res.fetchall()))
        finally:
            con.close()

    def matches(self, name: str, cols: list[str], rows: list[tuple]) -> bool:
        want_cols, want = self.expected[name]
        cols = [c.lower() for c in cols]
        return sorted(cols) == want_cols and self._co.frame_hash(cols, rows) == want

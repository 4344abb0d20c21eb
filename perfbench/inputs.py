"""Seeded input generators for the workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical parquet files, another seed writes different ones. The
program under test receives only these files. Each generator returns
the input properties the result records (docs, spans, media refs,
oversized docs, re-delivered share, near-duplicate share, bytes).
"""

from __future__ import annotations

import hashlib
import os
import random
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_intern_spark.sources.corpus import make_document

_SPAN_TYPE = pa.struct(
    [("kind", pa.string()), ("text", pa.string()),
     ("media_ref", pa.string()), ("offset", pa.int32())]
)

# Vocabulary and language mix of the repository's documents testdata
# table: 10-80 words per doc drawn from a 30-word vocabulary.
_CURATION_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "en", "en", "en", "en", "en", "en", "en",
          "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")


def _rng(seed: int, key: str) -> random.Random:
    digest = hashlib.sha256(f"perfbench:{seed}:{key}".encode()).hexdigest()
    return random.Random(int(digest, 16))


def _docs_table(docs: list[dict[str, Any]]) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array([d["doc_id"] for d in docs], pa.string()),
            "spans": pa.array(
                [[(s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in d["spans"]] for d in docs],
                pa.list_(_SPAN_TYPE),
            ),
        }
    )


def write_docs(path: str, docs: list[dict[str, Any]]) -> int:
    """One parquet file of ``documents(doc_id, spans)``; returns bytes."""
    pq.write_table(_docs_table(docs), path)
    return os.path.getsize(path)


def media_refs(doc: dict[str, Any]) -> int:
    return sum(1 for s in doc["spans"] if s["kind"] == "media" and s["media_ref"])


def corpus_props(docs: list[dict[str, Any]]) -> dict[str, Any]:
    spans = sum(len(d["spans"]) for d in docs)
    media = sum(1 for d in docs for s in d["spans"] if s["kind"] == "media")
    return {
        "docs": len(docs),
        "spans": spans,
        "media_spans": media,
        "media_span_share": round(media / max(1, spans), 4),
        "media_refs": sum(media_refs(d) for d in docs),
        "media_refs_per_doc": round(
            sum(media_refs(d) for d in docs) / max(1, len(docs)), 3
        ),
        "oversized_docs": sum(1 for d in docs if len(d["spans"]) >= 400),
    }


def gen_ingest(
    root: str, seed: int, n_increments: int, new_per_increment: int,
    redeliver_share: float, upsert_docs: int, oversized_share: float = 0.01,
) -> dict[str, Any]:
    """``ingest_ocr_heavy``: increments of the ``make_corpus`` mix (~12%
    media spans, ~2.7 media refs per doc, 1% oversized docs), staged as
    one parquet file each under ``root/staged`` and landed one at a time
    by the workload.

    Every increment carries the same number of oversized docs
    (``oversized_share`` of its new docs, at least one), at seeded
    positions: the seed changes the content, not the amount of work, so
    runs with different seeds measure the same load. (``make_corpus``
    scatters its oversized docs over the whole corpus, which puts 0 to 6
    of them in one 200-doc increment.)

    Each increment after the first also re-delivers ``redeliver_share``
    (of its new-doc count) doc_ids that an earlier increment carried,
    byte-identical to their first delivery. ``root/upsert.parquet``
    holds the first ``upsert_docs`` docs of the first increment."""
    rng = _rng(seed, "ingest")
    n_big = max(1, int(round(new_per_increment * oversized_share)))
    docs: list[dict[str, Any]] = []
    staged = os.path.join(root, "staged")
    os.makedirs(staged, exist_ok=True)
    n_redeliver = int(round(new_per_increment * redeliver_share))
    increments = []
    nbytes = 0
    for i in range(n_increments):
        big = set(rng.sample(range(new_per_increment), n_big))
        new = [make_document(f"doc-{i * new_per_increment + j:06d}", seed=seed,
                             oversized=j in big)
               for j in range(new_per_increment)]
        again = rng.sample(docs, min(n_redeliver, len(docs)))
        docs.extend(new)
        batch = new + again
        rng.shuffle(batch)
        path = os.path.join(staged, f"inc-{i:05d}.parquet")
        nbytes += write_docs(path, batch)
        increments.append(
            {"path": path, "new": [d["doc_id"] for d in new],
             "redelivered": [d["doc_id"] for d in again],
             "props": corpus_props(batch)}
        )
    upsert_path = os.path.join(root, "upsert.parquet")
    write_docs(upsert_path, docs[:upsert_docs])
    props = corpus_props(docs)
    props.update(
        increments=n_increments,
        new_per_increment=new_per_increment,
        oversized_per_increment=n_big,
        redelivered_share=round(n_redeliver / (new_per_increment + n_redeliver), 4),
        upsert_docs=upsert_docs,
        bytes=nbytes,
    )
    return {"docs": {d["doc_id"]: d for d in docs}, "increments": increments,
            "upsert_path": upsert_path, "props": props}


def make_curation_rows(seed: int, n_docs: int, near_dup_share: float) -> list[tuple]:
    """``documents(doc_id, text, lang, source, n_chars)`` rows with a
    planted near-duplicate share: ``round(near_dup_share * n_docs)`` docs
    at seeded positions each copy an earlier doc's text with one or two
    words substituted."""
    rng = _rng(seed, "curation")
    planted = set(rng.sample(range(1, n_docs), int(round(near_dup_share * n_docs))))
    rows: list[tuple] = []
    for i in range(n_docs):
        if i in planted:
            words = rows[rng.randrange(len(rows))][1].split()
            for _ in range(rng.randint(1, 2)):
                words[rng.randrange(len(words))] = rng.choice(_CURATION_VOCAB)
            text = " ".join(words)
        else:
            text = " ".join(
                rng.choice(_CURATION_VOCAB) for _ in range(rng.randint(10, 80))
            )
        rows.append((i, text, rng.choice(_LANGS), f"src{i % 20}", len(text), i in planted))
    return rows


def gen_curation(root: str, seed: int, n_docs: int, near_dup_share: float) -> dict[str, Any]:
    """``curation_queries``: ``root/documents.parquet`` in the testdata
    schema (the dir is what ``queries()[name](spark, dir)`` reads)."""
    rows = make_curation_rows(seed, n_docs, near_dup_share)
    os.makedirs(root, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    path = os.path.join(root, "documents.parquet")
    pq.write_table(table, path)
    props = {
        "docs": n_docs,
        "near_dup_share": round(sum(r[5] for r in rows) / max(1, n_docs), 4),
        "words": sum(len(r[1].split()) for r in rows),
        "bytes": os.path.getsize(path),
    }
    return {"dir": root, "props": props}

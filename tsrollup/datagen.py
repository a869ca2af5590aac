"""Deterministic synthetic sequences table (FIXTURES.md F1).

Emits the BASELINE input_hint table — ``doc_id:string, tokens:array<int32>,
n_tok:int32, source:string`` (+ companion ``gap_mask:array<boolean>``) — with:

* per-doc signal = clipped ``A·sin(2π·f·t/T + φ) + B·t/T + N(0,σ)·C`` cast int32
  (sinusoid + trend + noise so rolling mean/var and spectral features are
  non-trivial), mirroring the reference's regularly-sampled 1-D signals
  (``TSFEDL/data.py:40-43``),
* Zipf-skewed ``source`` over 8 corpora (heavy head exercises salted
  repartitioning, north_rule),
* log-uniform lengths in [64, 4096] (reference fixed_length range,
  ``test/test_keras.py:73,95,190``),
* gap runs of 1-16 positions injected into ~10% of docs (gap-fill exercise).

All randomness flows from one ``numpy.random.default_rng(seed)`` so any
(seed, n_docs) pair regenerates byte-identical data on any host.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

from .arrowbuf import rows_df

VOCAB = 50257  # GPT-2-ish vocab bound for clipping
SOURCES = ("web", "books", "code", "wiki", "news", "forums", "papers", "legal")


def generate_batch(seed: int, n_docs: int, min_len: int = 64, max_len: int = 4096,
                   gap_frac: float = 0.10) -> pa.Table:
    """Build one Arrow table of ``n_docs`` seeded sequences."""
    rng = np.random.default_rng(seed)
    # Zipf-skewed source assignment (s=1.5 over 8 sources).
    ranks = np.arange(1, len(SOURCES) + 1, dtype=np.float64)
    probs = ranks ** -1.5
    probs /= probs.sum()
    src_idx = rng.choice(len(SOURCES), size=n_docs, p=probs)
    # Log-uniform lengths.
    lengths = np.exp(rng.uniform(np.log(min_len), np.log(max_len), size=n_docs))
    lengths = lengths.astype(np.int32)
    # Per-doc signal params.
    amp = rng.uniform(50, 2000, size=n_docs)
    freq = rng.uniform(0.5, 40.0, size=n_docs)
    phase = rng.uniform(0, 2 * np.pi, size=n_docs)
    trend = rng.uniform(-3000, 3000, size=n_docs)
    noise_c = rng.uniform(0, 200, size=n_docs)
    offset = rng.uniform(1000, 20000, size=n_docs)
    has_gaps = rng.random(n_docs) < gap_frac

    tokens_col: list[np.ndarray] = []
    mask_col: list[np.ndarray | None] = []
    doc_ids: list[str] = []
    for i in range(n_docs):
        n = int(lengths[i])
        t = np.arange(n, dtype=np.float64)
        sig = (offset[i]
               + amp[i] * np.sin(2 * np.pi * freq[i] * t / n + phase[i])
               + trend[i] * t / n
               + rng.standard_normal(n) * noise_c[i])
        toks = np.clip(np.rint(sig), 0, VOCAB - 1).astype(np.int32)
        mask = np.zeros(n, dtype=bool)
        if has_gaps[i]:
            n_runs = int(rng.integers(1, 5))
            for _ in range(n_runs):
                start = int(rng.integers(0, n))
                run = int(rng.integers(1, 17))
                mask[start:start + run] = True
            toks = np.where(mask, 0, toks).astype(np.int32)
        src = SOURCES[src_idx[i]]
        doc_ids.append(f"{src}-{seed:04d}-{i:08d}")
        tokens_col.append(toks)
        mask_col.append(mask)

    return pa.table({
        "doc_id": pa.array(doc_ids, pa.string()),
        "tokens": pa.array([t for t in tokens_col], pa.list_(pa.int32())),
        "n_tok": pa.array(lengths, pa.int32()),
        "source": pa.array([SOURCES[j] for j in src_idx], pa.string()),
        "gap_mask": pa.array([m for m in mask_col], pa.list_(pa.bool_())),
    })


def write_sequences(path: str, seed: int = 42, n_docs: int = 200,
                    batch_size: int = 50_000, docs_per_file: int | None = None,
                    **kw) -> None:
    """Write the sequences table as parquet.

    With ``docs_per_file`` set, writes a DIRECTORY of part files (one seeded
    batch each) — the shape a real 100 TB table has (thousands of splittable
    files), so local scans parallelize the way a cluster scan would. Batch b
    always uses seed+b, so (seed, n_docs, part size) regenerate byte-identical
    data on any host. Without it, writes one file (row-group per batch).
    """
    import pyarrow.parquet as pq

    if docs_per_file:
        os.makedirs(path, exist_ok=True)
        done = 0
        b = 0
        while done < n_docs:
            take = min(docs_per_file, n_docs - done)
            tbl = generate_batch(seed + b, take, **kw)
            pq.write_table(tbl, os.path.join(path, f"part-{b:05d}.parquet"))
            done += take
            b += 1
        return

    writer = None
    done = 0
    b = 0
    while done < n_docs:
        take = min(batch_size, n_docs - done)
        tbl = generate_batch(seed + b, take, **kw)
        if writer is None:
            writer = pq.ParquetWriter(path, tbl.schema)
        writer.write_table(tbl)
        done += take
        b += 1
    if writer is not None:
        writer.close()


SEQUENCES_DDL = ("doc_id string, tokens array<int>, n_tok int, source string, "
                 "gap_mask array<boolean>")


def write_sequences_spark(spark, path: str, seed: int = 42, n_docs: int = 200,
                          docs_per_part: int = 2000, **kw) -> None:
    """Distributed fixture generation: one seeded batch per task (the batch
    plan is tiny driver-side metadata; all signal synthesis runs on executors).
    Byte-identical rows to write_sequences(docs_per_file=docs_per_part) — batch
    b always uses seed+b — only the file layout differs."""
    plan = []
    done = 0
    b = 0
    while done < n_docs:
        take = min(docs_per_part, n_docs - done)
        plan.append((seed + b, take))
        done += take
        b += 1

    def gen(batches):
        for rb in batches:
            for r in rb.to_pylist():
                yield from generate_batch(r["seed"], r["n"], **kw).to_batches()

    (rows_df(spark, plan, "seed int, n int")
     .repartition(len(plan))
     .mapInArrow(gen, SEQUENCES_DDL)
     .write.mode("overwrite").parquet(path))

"""Canned feature pipelines — ALL 25 reference architectures as operator DAGs.

SURVEY §2.13: every TSFE-DL model is (windowed weighted agg | downsample |
normalize | scan | gate/residual | branch-combine) composed in a DAG. The
whole zoo is a DATA TABLE (``ARCH_SPECS``) over a ten-op vocabulary,
interpreted by ``_run_spec`` — deterministic feature extractors with
uniform/derivative kernels standing in for learned filters (conv-as-filter,
SURVEY §2.9) and EWMA scans standing in for LSTM/GRU:

    ("conv", k)     full-pad uniform conv 1/k       ≙ Conv1D(k)
    ("relu",)       max(x, 0)                       ≙ relu activation
    ("pool", p)     tumbling max-pool /p            ≙ MaxPooling1D(p)
    ("avgpool", p)  tumbling avg-pool /p            ≙ AveragePooling1D(p)
    ("bn",)         (x−mean)/√(var+1e-5)            ≙ BatchNormalization
    ("ewma", α)     sequential scan                 ≙ LSTM/GRU pass
    ("bidir", α)    mean(fwd scan, bwd scan)        ≙ Bidirectional RNN
    ("up", f)       repeat ×f                       ≙ UpSampling1D
    ("gate",)       x·sigmoid(x) + x                ≙ attention multiply +
                                                      residual (RTA block,
                                                      blocks_keras.py:201-202)
    ("se",)         x·sigmoid(mean(x))              ≙ squeeze-excitation
    ("recon_residual",)  input[:m] − current[:m]    ≙ autoencoder recon error
    ("branches", [spec…], "concat"|"avg")           ≙ parallel towers →
                                                      concatenate / ensemble

Execution: per-doc stages run in C (np.convolve / reshape reductions); the
EWMA/bidir scans are batched ACROSS docs (one vectorized loop over the time
axis of a padded matrix — no per-element Python, bit-identical to the scalar
fold since the per-step op is elementwise); row assembly is columnar.
``run_pipeline`` (the per-doc oracle the tests compare against) and the Spark
``pipeline_features_multi`` path share the interpreter, so parity holds by
construction and is still asserted per-architecture in test_pipelines.py.

Output: one row per doc with a fixed-length feature struct — the engine twin
of the reference's penultimate-layer feature vector.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .arrowbuf import row_slices

PIPELINE_SCHEMA = ("doc_id string, f_mean double, f_var double, f_min double, "
                   "f_max double, f_last double, f_len int")


def _conv_full(x: np.ndarray, w: np.ndarray) -> np.ndarray:
    """'full' convolution, reference utils.py:107-130 (zero-pad k-1 each end)."""
    if x.shape[0] == 0:
        return x.astype(np.float64)
    return np.convolve(x, w, mode="full")


def _relu(x: np.ndarray) -> np.ndarray:
    return np.maximum(x, 0.0)


def _maxpool(x: np.ndarray, p: int = 2) -> np.ndarray:
    n = (x.shape[0] // p) * p
    if n == 0:
        return x
    return x[:n].reshape(-1, p).max(axis=1)


def _avgpool(x: np.ndarray, p: int = 2) -> np.ndarray:
    n = (x.shape[0] // p) * p
    if n == 0:
        return x
    return x[:n].reshape(-1, p).mean(axis=1)


def _bn(x: np.ndarray) -> np.ndarray:
    if x.shape[0] == 0:
        return x
    return (x - x.mean()) / np.sqrt(x.var() + 1e-5)


def _gate(x: np.ndarray) -> np.ndarray:
    """Attention multiply + residual add (RTA block, blocks_keras.py:201-202)."""
    return x * (1.0 / (1.0 + np.exp(-x))) + x


def _se(x: np.ndarray) -> np.ndarray:
    """Squeeze-excitation scale (CaiWenjuan dense/SE, models_keras.py:1094)."""
    if x.shape[0] == 0:
        return x
    return x * (1.0 / (1.0 + np.exp(-float(x.mean()))))


# padded-matrix cell budget per EWMA sub-batch (~512 MB of float64 incl. the
# output copy); lanes are length-sorted so one long outlier doc can't pad the
# whole batch to its length and OOM the Python worker
_EWMA_CELL_BUDGET = 32_000_000


def _ewma_batch(seqs: list[np.ndarray], alpha: float = 0.125) -> list[np.ndarray]:
    """EWMA over many ragged sequences at once: one vectorized recurrence over
    the time axis of a zero-padded (n_docs, max_len) matrix — the per-step op
    ``acc = α·x + (1−α)·acc`` is elementwise, so each doc's lane computes the
    exact same float sequence as a per-doc scalar fold (padding lanes are
    sliced away). Empty sequences pass through untouched.

    Lanes are grouped by length (sorted, then sub-batched under a padded-cell
    budget) so padding waste is bounded: a single million-token doc next to
    10k short docs would otherwise allocate a 10k×1M matrix."""
    idx = sorted((i for i, s in enumerate(seqs) if s.shape[0]),
                 key=lambda i: seqs[i].shape[0])
    res = list(seqs)
    lo = 0
    while lo < len(idx):
        hi = lo
        mx = 0
        while hi < len(idx):
            mx_cand = max(mx, seqs[idx[hi]].shape[0])
            if hi > lo and (hi - lo + 1) * mx_cand > _EWMA_CELL_BUDGET:
                break
            mx = mx_cand
            hi += 1
        group = idx[lo:hi]
        lens = np.array([seqs[i].shape[0] for i in group], dtype=np.intp)
        buf = np.zeros((len(group), mx), dtype=np.float64)
        for r, i in enumerate(group):
            buf[r, :lens[r]] = seqs[i]
        out = np.empty_like(buf)
        out[:, 0] = buf[:, 0]
        acc = buf[:, 0].copy()
        for t in range(1, mx):
            acc = alpha * buf[:, t] + (1 - alpha) * acc
            out[:, t] = acc
        for r, i in enumerate(group):
            res[i] = out[r, :lens[r]]
        lo = hi
    return res


def _bidir_batch(seqs: list[np.ndarray], alpha: float) -> list[np.ndarray]:
    fwd = _ewma_batch(seqs, alpha)
    bwd = _ewma_batch([s[::-1] for s in seqs], alpha)
    return [(f + b[::-1]) / 2.0 for f, b in zip(fwd, bwd)]


def _run_spec(seqs: list[np.ndarray], spec, origs: list[np.ndarray]
              ) -> list[np.ndarray]:
    """Interpret one architecture spec over a whole batch of ragged docs.
    Per-doc stages are C-level NumPy; scans batch across docs."""
    for stage in spec:
        op = stage[0]
        if op == "conv":
            k = stage[1]
            w = np.full(k, 1.0 / k)
            seqs = [_conv_full(s, w) for s in seqs]
        elif op == "relu":
            seqs = [_relu(s) for s in seqs]
        elif op == "pool":
            seqs = [_maxpool(s, stage[1]) for s in seqs]
        elif op == "avgpool":
            seqs = [_avgpool(s, stage[1]) for s in seqs]
        elif op == "bn":
            seqs = [_bn(s) for s in seqs]
        elif op == "up":
            seqs = [np.repeat(s, stage[1]) for s in seqs]
        elif op == "gate":
            seqs = [_gate(s) for s in seqs]
        elif op == "se":
            seqs = [_se(s) for s in seqs]
        elif op == "ewma":
            seqs = _ewma_batch(seqs, stage[1])
        elif op == "bidir":
            seqs = _bidir_batch(seqs, stage[1])
        elif op == "recon_residual":
            seqs = [o[:min(o.shape[0], s.shape[0])]
                    - s[:min(o.shape[0], s.shape[0])]
                    for o, s in zip(origs, seqs)]
        elif op == "branches":
            _, subs, combine = stage
            branch_out = [_run_spec(list(seqs), sub, origs) for sub in subs]
            if combine == "concat":
                seqs = [np.concatenate([b[i] for b in branch_out])
                        for i in range(len(seqs))]
            else:  # "avg" — ensemble mean trimmed to the shortest branch
                merged = []
                for i in range(len(seqs)):
                    m = min(b[i].shape[0] for b in branch_out)
                    if m == 0:
                        merged.append(np.empty(0, np.float64))
                    else:
                        merged.append(np.stack(
                            [b[i][:m] for b in branch_out]).mean(axis=0))
                seqs = merged
        else:
            raise ValueError(op)
    return seqs


# One spec per reference model (file:line = models_keras.py def site).
# Conv kernel / pool sizes follow the reference stacks; RNN stacks map to
# chained scans (one ewma per recurrent layer, α halving per depth step);
# Dense heads map to the global-stats row every pipeline ends in.
ARCH_SPECS: dict[str, list] = {
    # :13 — conv/pool ×3 → LSTM
    "ohshulih": [("conv", 3), ("relu",), ("pool", 2)] * 3 + [("ewma", 0.125)],
    # :81 — conv k=2 ×2 → GRU stack
    "khanzulfiqar": [("conv", 2), ("relu",), ("conv", 2), ("relu",),
                     ("ewma", 0.125), ("ewma", 0.25)],
    # :155 — conv3 ×2 + BN + pool → LSTM
    "zhengzhenyu": [("conv", 3), ("relu",), ("conv", 3), ("bn",),
                    ("pool", 2), ("ewma", 0.125)],
    # :225 — pure LSTM ×4 stack
    "houboroui": [("ewma", 0.5), ("ewma", 0.25), ("ewma", 0.125)],
    # :277 — (conv3, pool2) ×2 → LSTM ×2
    "wangkejun": [("conv", 3), ("pool", 2), ("conv", 3), ("pool", 2),
                  ("ewma", 0.125), ("ewma", 0.25)],
    # :340 — conv5 + pool → LSTM ×4
    "chenchen": [("conv", 5), ("pool", 2), ("ewma", 0.125), ("ewma", 0.25)],
    # :403 — (conv2, pool2) ×2 → LSTM
    "kimtaeyoung": [("conv", 2), ("pool", 2), ("conv", 2), ("pool", 2),
                    ("ewma", 0.125)],
    # :469 — Bidirectional ×2
    "genminxing": [("bidir", 0.125), ("bidir", 0.25)],
    # :523 — conv1 + pool → LSTM
    "fujiangmeng": [("conv", 1), ("relu",), ("pool", 2), ("ewma", 0.125)],
    # :582 — 3 parallel conv towers → time-concat (→ LSTM head)
    "shihaotian": [("branches", [[("conv", 3)], [("conv", 5)], [("conv", 7)]],
                    "concat")],
    # :664 — conv5 + pool (CNN-only)
    "huangmeiling": [("conv", 5), ("relu",), ("pool", 2)],
    # :737 — conv7 + pool → LSTM ×2
    "lihohshu": [("conv", 7), ("relu",), ("pool", 2), ("ewma", 0.125),
                 ("ewma", 0.25)],
    # :804 — LSTM ×3 stack
    "gaojunli": [("ewma", 0.1), ("ewma", 0.3)],
    # :861 — conv + BN + pool → LSTM ×4
    "weixiaoyan": [("conv", 3), ("bn",), ("pool", 2), ("ewma", 0.125),
                   ("ewma", 0.25)],
    # :931 — conv5 + pool → LSTM ×5
    "kongzhengmin": [("conv", 5), ("pool", 2), ("ewma", 0.125),
                     ("ewma", 0.5)],
    # :999 — YildirimOzal autoencoder: pool÷4 → up×4 → reconstruction error
    "autoenc": [("avgpool", 2), ("avgpool", 2), ("up", 4),
                ("recon_residual",)],
    # :1094 — CaiWenjuan DDNN: inception branches, each SE-gated, concat
    "caiwenjuan": [("branches",
                    [[("se",)], [("conv", 3), ("se",)],
                     [("conv", 5), ("se",)], [("pool", 2), ("se",)]],
                    "concat")],
    # :1169 — KimMinGu CNN ensemble: 3 towers averaged
    "kimmingu": [("branches",
                  [[("conv", k), ("relu",), ("pool", 2)] for k in (3, 5, 7)],
                  "avg")],
    # :1245 — conv + pool → hybrid bidirectional GRU/LSTM
    "htetmyetlynn": [("conv", 3), ("pool", 2), ("bidir", 0.125)],
    # :1331 — ZhangJin: conv+BN+relu+pool → spatial/temporal attention
    # multiplies → bidirectional GRU
    "zhangjin": [("conv", 3), ("bn",), ("relu",), ("pool", 3), ("gate",),
                 ("bidir", 0.125)],
    # :1415 — conv+BN+relu+pool → LSTM ×2
    "yaoqihang": [("conv", 3), ("bn",), ("relu",), ("pool", 3),
                  ("ewma", 0.125), ("ewma", 0.25)],
    # :1487 — YiboGao RTA-CNN: attention-gated blocks + pools (→ en_loss)
    "yibogao": [("gate",), ("pool", 2), ("gate",), ("pool", 2),
                ("ewma", 0.125)],
    # :1589 — (conv5, pool2)(conv3, pool2) → LSTM stack
    "hongtan": [("conv", 5), ("pool", 2), ("conv", 3), ("pool", 2),
                ("ewma", 0.125)],
    # :1655 — conv5 → LSTM
    "sharpar": [("conv", 5), ("relu",), ("ewma", 0.125)],
    # :1723 — DaiXiLi: 5 parallel conv towers → concat (distinct widths)
    "daixili": [("branches",
                 [[("conv", k), ("pool", 2)] for k in (3, 5, 7, 9, 11)],
                 "concat")],
}

PIPELINES = tuple(ARCH_SPECS)


def run_pipeline(x: np.ndarray, pipeline: str) -> np.ndarray:
    """One doc through the named pipeline → 1-D feature sequence (the per-doc
    oracle; the Spark path batches the same interpreter)."""
    x = np.asarray(x, dtype=np.float64)
    return _run_spec([x], ARCH_SPECS[pipeline], [x])[0]


def pipeline_features_multi(df: DataFrame) -> DataFrame:
    """Per-(doc, arch) global stats of each pipeline's output sequence (the
    engine twin of the reference model's feature vector), kept in
    np.mean/np.var float semantics so each row bit-matches
    :func:`run_pipeline`; a doc whose output is empty has no row.

    ALL architectures of ``PIPELINES`` run over ``tokens`` in ONE mapInArrow
    pass: each Arrow batch is decoded once (zero-copy list-buffer slicing)
    and every spec is interpreted over the same in-memory float64 views,
    emitting an ``arch`` column — one corpus scan for the whole zoo instead
    of one scan per architecture (25 scans ≈ 25 full corpus reads at
    100 TB)."""
    archs = sorted(PIPELINES)

    def run(batches):
        import pyarrow as pa

        for rb in batches:
            rows, xs = row_slices(rb.column("tokens"), np.float64)
            if not xs:
                continue
            out_rows, out_arch = [], []
            stats_rows, len_rows = [], []
            for arch in archs:
                hs = _run_spec(list(xs), ARCH_SPECS[arch], xs)
                for i, h in enumerate(hs):
                    if not h.shape[0]:
                        continue
                    out_rows.append(rows[i])
                    out_arch.append(arch)
                    stats_rows.append((h.mean(), h.var(), h.min(), h.max(),
                                       h[-1]))
                    len_rows.append(h.shape[0])
            if not out_rows:
                continue
            stats = np.asarray(stats_rows)
            yield pa.RecordBatch.from_arrays(
                [rb.column("doc_id").take(pa.array(out_rows)),
                 pa.array(np.asarray(out_arch, dtype=object)),
                 pa.array(stats[:, 0]), pa.array(stats[:, 1]),
                 pa.array(stats[:, 2]), pa.array(stats[:, 3]),
                 pa.array(stats[:, 4]),
                 pa.array(np.asarray(len_rows, dtype=np.int32),
                          type=pa.int32())],
                ["doc_id", "arch", "f_mean", "f_var", "f_min", "f_max",
                 "f_last", "f_len"])

    return df.select("doc_id", "tokens").mapInArrow(
        run, "doc_id string, arch string, " + PIPELINE_SCHEMA.split(", ", 1)[1])

"""Seeded contest-shaped inputs in the contest's binary formats.

The shape follows the program's own synthetic corpus (ContestCorpus):

- labels skewed as floor(L * u**2), so label 0 holds about 10% of rows;
- timestamps uniform in [0, 1];
- vectors from a Gaussian mixture: uniform centers in [0, 1]^dim, each
  point a center plus N(0, 0.08**2) per coordinate;
- queries: the four types round-robin (25% each), window widths cycling
  through {0.01, 0.05, 0.1, 0.3}, labels drawn with the same u**2 skew.

One thing differs on purpose. ContestCorpus fixes 4,096 clusters, which
at 10M rows leaves about 2,400 rows per cluster, but below ~400k rows
leaves fewer than k rows per cluster and pushes the IVF tuner to probe
every list. Here the cluster count scales with the base size so every
cluster keeps ROWS_PER_CLUSTER rows, five times k = 100, so a query's
top-k sits inside its own cluster as it does at the 10M point.

File layouts (little-endian, as the contest's io.h):
  base/delta: uint32 N; N x (label f32, ts f32, vec f32[dim])
  query:      uint32 NQ; NQ x (type f32, v f32, l f32, r f32, vec f32[dim])
"""

import numpy as np

DIM = 100
LABELS = 100
ROWS_PER_CLUSTER = 500
WIDTHS = (0.01, 0.05, 0.1, 0.3)
SIGMA = 0.08


def clusters_for(n_base):
    return max(1, round(n_base / ROWS_PER_CLUSTER))


def skewed_labels(rng, n):
    u = rng.random(n)
    return np.minimum(LABELS - 1, np.floor(LABELS * u * u)).astype(np.float32)


def mixture(rng, centers, n):
    pick = rng.integers(0, len(centers), n)
    return (centers[pick] + SIGMA * rng.standard_normal((n, DIM))).astype(np.float32)


def corpus(seed, n_base, n_query, n_delta=0):
    """Return (base, queries, delta) float32 row matrices for `seed`.

    base and delta rows are (label, ts, vec...); query rows are
    (type, v, l, r, vec...) with the reference's -1 sentinels for the
    fields a type does not use. Delta rows come from the same mixture as
    the base, so streamed rows look like the corpus they join.
    """
    rng = np.random.default_rng(seed)
    centers = rng.random((clusters_for(n_base), DIM))

    def rows(n):
        return np.column_stack([skewed_labels(rng, n),
                                rng.random(n).astype(np.float32),
                                mixture(rng, centers, n)])

    base = rows(n_base)
    i = np.arange(n_query)
    qtype = i % 4
    width = np.asarray(WIDTHS)[(i % 16) // 4]
    v = np.where((qtype == 1) | (qtype == 3), skewed_labels(rng, n_query), -1.0)
    lo = rng.random(n_query) * (1.0 - width)
    ranged = qtype >= 2
    queries = np.column_stack([
        qtype.astype(np.float32), v.astype(np.float32),
        np.where(ranged, lo, -1.0).astype(np.float32),
        np.where(ranged, lo + width, -1.0).astype(np.float32),
        mixture(rng, centers, n_query)])
    delta = rows(n_delta)
    return base.astype(np.float32), queries.astype(np.float32), delta.astype(np.float32)


def write_bin(path, rows):
    with open(path, "wb") as f:
        f.write(np.uint32(len(rows)).astype("<u4").tobytes())
        f.write(np.ascontiguousarray(rows, dtype="<f4").tobytes())


def write_inputs(out_dir, seed, n_base, n_query, n_delta=0):
    """Write base.bin, query.bin and (when n_delta > 0) delta.bin."""
    base, queries, delta = corpus(seed, n_base, n_query, n_delta)
    write_bin(f"{out_dir}/base.bin", base)
    write_bin(f"{out_dir}/query.bin", queries)
    if n_delta:
        write_bin(f"{out_dir}/delta.bin", delta)

"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its parameters and `seed`: the
same arguments give byte-identical parquet. The engine only ever sees
the written parquet; the planted ground truth (polygons, dwells,
duplicate pairs) is returned to the benchmark for its output checks.

Properties each generator varies, all fixed per workload in
`perfbench/workloads.py` so that a new seed changes the draw and not
the shape of the input:

- docs: hotspot share of doc coordinates (skew), spans per doc, share
  of docs placed on a polygon edge (rows that land in boundary cells
  of the cover and need the exact refine)
- trajectories: length spread (log-normal plus a few long tracks),
  dwell share, gap share, duplicate-timestamp share
- text: planted near-duplicate share
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = 1_500_000_000  # unix seconds of the first observation

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)


def write_parts(table: pa.Table, path: str, n_files: int) -> int:
    """Write `table` as `n_files` parquet part files under `path`, the
    layout of a table written by a parallel job; returns bytes written."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))
    return dir_bytes(path)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for fn in names:
            total += os.path.getsize(os.path.join(root, fn))
    return total


# ---------------------------------------------------------------------------
# interleaved documents
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class DocParams:
    n_docs: int
    hot_frac: float = 0.2  # share of docs anchored in one 1x1 degree hotspot
    # south-west corner of the hotspot; None puts it at the centre of the
    # first polygon, so the hot docs always land in the join
    hotspot: tuple[float, float] | None = None
    spans_min: int = 4
    spans_max: int = 16  # spans per doc ~ uniform[spans_min, spans_max]
    edge_frac: float = 0.1  # share of docs anchored on a polygon edge
    n_polygons: int = 4
    jitter_deg: float = 0.05  # spread of a doc's points around its anchor


def make_polygons(rng: np.random.Generator, centres) -> list[tuple[str, list[tuple[float, float]]]]:
    """Star-shaped hexagons (14-22 degrees across) around the given
    centres: a seed moves and bends them but keeps their size, so the
    cover and the refine predicate cost about the same for every seed.
    Coordinates are rounded to 1e-3 so the polygon literals are exact in
    every engine."""
    polys = []
    k = 6
    for p, (cx, cy) in enumerate(centres):
        # jittered but evenly spread angles keep every gap below pi, so
        # the centre is inside the polygon
        ang = (np.arange(k) + rng.uniform(0.0, 0.8, k)) * (2 * np.pi / k)
        rad = rng.uniform(7.0, 11.0, k)
        xs = np.round(cx + rad * np.cos(ang), 3)
        ys = np.round(np.clip(cy + rad * np.sin(ang) * 0.6, -84.0, 84.0), 3)
        polys.append((f"poly{p}", [(float(a), float(b)) for a, b in zip(xs, ys)]))
    return polys


def _edge_points(rng, polygons, n):
    """n points within ~0.01 degree of a random polygon edge."""
    out = np.empty((n, 2))
    which = rng.integers(0, len(polygons), n)
    for i in range(n):
        verts = np.asarray(polygons[which[i]][1])
        j = rng.integers(0, len(verts))
        a, b = verts[j], verts[(j + 1) % len(verts)]
        s = rng.uniform()
        out[i] = a + s * (b - a) + rng.normal(0.0, 0.01, 2)
    return out


def gen_docs(params: DocParams, seed: int):
    """Interleaved text+media documents in the engine's doc schema
    (doc_id, spans array<struct<kind,text,media_ref,offset>>). Text spans
    (even offsets) carry "t_unix;lon;lat" payloads; media spans (odd
    offsets) carry an opaque ref. Returns (table, polygons)."""
    rng = np.random.default_rng(seed)
    centres = np.column_stack([rng.uniform(-150, 150, params.n_polygons), rng.uniform(-60, 60, params.n_polygons)])
    polygons = make_polygons(rng, centres)
    hx, hy = params.hotspot if params.hotspot is not None else (centres[0, 0] - 0.5, centres[0, 1] - 0.5)
    n = params.n_docs
    n_spans = rng.integers(params.spans_min, params.spans_max + 1, n)

    # doc anchors: hotspot / polygon edge / uniform world
    u = rng.uniform(size=n)
    anchor = np.column_stack([rng.uniform(-179.0, 179.0, n), rng.uniform(-84.0, 84.0, n)])
    hot = u < params.hot_frac
    anchor[hot] = np.column_stack([rng.uniform(hx, hx + 1.0, hot.sum()), rng.uniform(hy, hy + 1.0, hot.sum())])
    edge = (u >= params.hot_frac) & (u < params.hot_frac + params.edge_frac)
    anchor[edge] = _edge_points(rng, polygons, int(edge.sum()))

    doc = np.repeat(np.arange(n), n_spans)
    first = np.concatenate([[0], np.cumsum(n_spans)[:-1]])
    k = np.arange(len(doc)) - np.repeat(first, n_spans)
    is_text = k % 2 == 0
    jit = rng.normal(0.0, params.jitter_deg, (len(doc), 2))
    lon = np.clip(anchor[doc, 0] + jit[:, 0], -179.999, 179.999).round(6)
    lat = np.clip(anchor[doc, 1] + jit[:, 1], -84.999, 84.999).round(6)
    t = T0 + doc * 3600 + k * 10

    doc_ids = [f"doc{i:09d}" for i in range(n)]
    text = [
        f"{tt};{x:.6f};{y:.6f}" if it else None
        for tt, x, y, it in zip(t.tolist(), lon.tolist(), lat.tolist(), is_text.tolist())
    ]
    media = [
        None if it else f"mem://media/{doc_ids[d]}/{kk}.bin"
        for d, kk, it in zip(doc.tolist(), k.tolist(), is_text.tolist())
    ]
    spans = pa.StructArray.from_arrays(
        [
            pa.array(np.where(is_text, "text", "media").tolist(), pa.string()),
            pa.array(text, pa.string()),
            pa.array(media, pa.string()),
            pa.array(k.astype(np.int32)),
        ],
        fields=list(SPAN_TYPE),
    )
    offsets = pa.array(np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32))
    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.string()),
            "spans": pa.ListArray.from_arrays(offsets, spans),
        }
    )
    return table, polygons


# ---------------------------------------------------------------------------
# trajectory points
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class TrajParams:
    n_trajs: int
    mean_len: float = 80.0  # log-normal point count per trajectory
    len_sigma: float = 0.6
    n_long: int = 3  # extra long trajectories (skew on one grouped-map task)
    long_len: int = 4000
    dwell_frac: float = 0.3  # share of trajectories with one planted dwell (tenths)
    dwell_len: int = 40  # points per dwell, 30 s apart (20 min)
    gap_frac: float = 0.01  # share of sampling intervals replaced by a 2-4 h gap
    dup_frac: float = 0.02  # share of points duplicated at the same timestamp
    extent_m: float = 50_000.0


@dataclass(frozen=True)
class Dwell:
    traj_id: str
    start_s: float  # unix seconds
    end_s: float


def gen_trajs(params: TrajParams, seed: int):
    """Planar trajectory points (traj_id, t, x, y, seq) in metres.

    Moving segments advance 150-400 m per 15-45 s sample, so only the
    planted dwells (points within 10 m of one spot for 20 minutes) can be
    stops. `seq` is a unique row number the engine uses to break
    duplicate-timestamp ties deterministically. Returns (table, dwells)."""
    rng = np.random.default_rng(seed)
    # log-normal lengths taken at evenly spaced quantiles and dealt out in
    # one fixed order: the spread is the same for every seed, and so is the
    # work each trajectory (and each grouped-map task) gets
    z = [NormalDist().inv_cdf((i + 0.5) / params.n_trajs) for i in range(params.n_trajs)]
    lens = np.exp(np.log(params.mean_len) + params.len_sigma * np.array(z))
    lens = np.maximum(8, np.random.default_rng(0).permutation(lens)).astype(int)
    lens = np.concatenate([lens, np.full(params.n_long, params.long_len)])
    ids, ts, xs, ys, dwells = [], [], [], [], []
    for j, n in enumerate(lens.tolist()):
        tid = f"traj{j:07d}"
        # a fixed share of trajectories (by index, the same set for every
        # seed) gets a dwell on top of its moving points, so the stop
        # detector's work does not swing with the seed
        dwell = j % 10 < round(10 * params.dwell_frac)
        if dwell:
            n += params.dwell_len
        dt = rng.uniform(15.0, 45.0, n)
        gaps = rng.uniform(size=n) < params.gap_frac
        dt[gaps] = rng.uniform(7200.0, 14400.0, gaps.sum())
        step = rng.uniform(150.0, 400.0, n)
        heading = np.cumsum(rng.normal(0.0, 0.3, n))
        dx, dy = step * np.cos(heading), step * np.sin(heading)
        dx[0] = dy[0] = dt[0] = 0.0
        if dwell:
            a = int(rng.integers(2, n - params.dwell_len - 1))
            b = a + params.dwell_len
            dt[a + 1 : b] = 30.0
            dx[a + 1 : b] = 0.0
            dy[a + 1 : b] = 0.0
        t = T0 + j * 60.0 + np.cumsum(dt)
        x = rng.uniform(0, params.extent_m) + np.cumsum(dx)
        y = rng.uniform(0, params.extent_m) + np.cumsum(dy)
        if dwell:
            jit = rng.uniform(-5.0, 5.0, (b - a - 1, 2))
            x[a + 1 : b] += jit[:, 0]
            y[a + 1 : b] += jit[:, 1]
            dwells.append(Dwell(tid, float(t[a]), float(t[b - 1])))
        ids.append(np.full(n, j))
        ts.append(t)
        xs.append(x)
        ys.append(y)
    traj = np.concatenate(ids)
    t = np.concatenate(ts)
    x = np.concatenate(xs)
    y = np.concatenate(ys)
    # duplicate timestamps: copies of random rows with a nudged position
    dup = np.nonzero(rng.uniform(size=len(t)) < params.dup_frac)[0]
    traj = np.concatenate([traj, traj[dup]])
    t = np.concatenate([t, t[dup]])
    x = np.concatenate([x, x[dup] + rng.uniform(-3.0, 3.0, len(dup))])
    y = np.concatenate([y, y[dup] + rng.uniform(-3.0, 3.0, len(dup))])
    order = rng.permutation(len(t))  # arrival order is not time order
    traj, t, x, y = traj[order], t[order], x[order], y[order]
    t_us = (t * 1e6).round().astype("int64")
    table = pa.table(
        {
            "traj_id": pa.array([f"traj{j:07d}" for j in traj.tolist()], pa.string()),
            "t": pa.array(t_us, pa.timestamp("us", tz="UTC")),
            "x": pa.array(x.round(3)),
            "y": pa.array(y.round(3)),
            "seq": pa.array(np.arange(len(t), dtype=np.int64)),
        }
    )
    return table, dwells


# ---------------------------------------------------------------------------
# text documents with planted near-duplicates
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class TextParams:
    n_docs: int
    near_dup_frac: float = 0.05  # share of docs that are an edited copy of another
    vocab: int = 20_000
    words_min: int = 40
    words_max: int = 90


def gen_text(params: TextParams, seed: int):
    """(doc_id, text) documents of random vocabulary words; a
    `near_dup_frac` share are copies of another doc with one word
    replaced (3-shingle Jaccard about 0.9). Returns (table, pairs) with
    pairs = [(source_id, copy_id), ...]."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(letters[rng.integers(0, 26, int(rng.integers(3, 9)))]) for _ in range(params.vocab)]
    n_dup = int(round(params.n_docs * params.near_dup_frac))
    n_base = params.n_docs - n_dup
    lens = rng.integers(params.words_min, params.words_max + 1, n_base)
    words = rng.integers(0, params.vocab, int(lens.sum()))
    starts = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(vocab[w] for w in words[starts[i] : starts[i + 1]]) for i in range(n_base)]
    ids = [f"text{i:08d}" for i in range(params.n_docs)]
    srcs = rng.choice(n_base, n_dup, replace=False)
    pairs = []
    for d, s in enumerate(srcs.tolist()):
        toks = texts[s].split(" ")
        toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, params.vocab))]
        texts.append(" ".join(toks))
        pairs.append((ids[s], ids[n_base + d]))
    order = rng.permutation(params.n_docs)
    table = pa.table(
        {
            "doc_id": pa.array([ids[i] for i in order], pa.string()),
            "text": pa.array([texts[i] for i in order], pa.string()),
        }
    )
    return table, pairs

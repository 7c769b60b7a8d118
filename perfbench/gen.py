"""Seeded inputs and goldens for the job-level benchmark.

Everything here is a pure function of ``(workload, seed)``: the same seed
writes byte-identical inputs. The program under test only ever sees the
files written by :func:`build_dense_inputs` / :func:`build_ops_inputs`; the
goldens come from the numpy oracles in ``gjspark.fixtures.generator`` and
from per-cell folds of the generated columns.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gjspark.fixtures import generator as FX
from gjspark.functions import codecs as C
from gjspark.functions import gif as gifc
from gjspark.functions import h3 as h3x

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LON_MIN, LON_MAX, LAT_MIN, LAT_MAX = FX.LON_MIN, FX.LON_MAX, FX.LAT_MIN, FX.LAT_MAX

# job_dense: concave and multi-part polygons, 16x16 ppm images, half of the
# points in one hot res-7 cell (``hot``) and a tenth spread uniformly.
DENSE = dict(n_images=1200, n_polygons=600, hot=0.50, uniform=0.10)
# ops_warm: 7-format images for the mosaic, sf-like documents and embeddings.
OPS_SPEC = dict(n_images=400, n_polygons=200, n_docs=500, n_vecs=400)


def _stable_seed(*parts) -> int:
    h = hashlib.sha256(repr(parts).encode()).digest()
    return int.from_bytes(h[:8], "little")


# ---------------------------------------------------------------------------
# GeoJSON
# ---------------------------------------------------------------------------


def _ring(cx, cy, ang, r):
    """Closed ring, rounded like ``FX.round_geometry`` (HALF_EVEN, 6 places)."""
    ring = np.column_stack([cx + r * np.cos(ang), cy + 0.7 * r * np.sin(ang)])
    return np.round(np.vstack([ring, ring[:1]]), 6)


def _shape(rng, cx, cy, kind: str, s: float) -> dict:
    """One polygon geometry of ``kind`` around (cx, cy), size scale ``s``."""
    if kind == "multi":
        parts = []
        for dx, dy in ((-0.22, 0.0), (0.3, 0.18)):
            n = int(rng.integers(5, 9))
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            parts.append([_ring(cx + dx * s, cy + dy * s, ang, rng.uniform(0.15, 0.45) * s)])
        return {"type": "MultiPolygon", "coordinates": [[r.tolist() for r in p] for p in parts]}
    if kind == "convex":
        n = int(rng.integers(5, 9))
        rings = [_ring(cx, cy, np.sort(rng.uniform(0, 2 * np.pi, n)), rng.uniform(0.15, 0.45) * s)]
    elif kind == "concave":
        n = int(rng.integers(5, 9))
        ang = np.linspace(0, 2 * np.pi, 2 * n, endpoint=False)
        r = np.where(np.arange(2 * n) % 2 == 0, rng.uniform(0.3, 0.55), rng.uniform(0.1, 0.2)) * s
        rings = [_ring(cx, cy, ang, r)]
    else:  # hole
        ang = np.linspace(0, 2 * np.pi, 8, endpoint=False)
        r = rng.uniform(0.25, 0.5) * s
        hang = np.linspace(0, 2 * np.pi, 6, endpoint=False)
        rings = [_ring(cx, cy, ang, r), _ring(cx, cy, hang, 0.35 * r)]
    return {"type": "Polygon", "coordinates": [r.tolist() for r in rings]}


def make_features(rng, n: int, kinds) -> list[dict]:
    """NUTS-style FeatureCollection features on a jittered grid. Coordinates
    are pre-rounded the way the GeoJSON source rounds them, so the oracles
    and the job see the same polygons and centroids."""
    gx = int(np.ceil(np.sqrt(n * (LON_MAX - LON_MIN) / (LAT_MAX - LAT_MIN))))
    gy = int(np.ceil(n / gx))
    sx, sy = (LON_MAX - LON_MIN) / gx, (LAT_MAX - LAT_MIN) / gy
    feats = []
    for k in range(n):
        ix, iy = k % gx, k // gx
        cx = LON_MIN + (ix + 0.5) * sx + rng.uniform(-0.1, 0.1) * sx
        cy = LAT_MIN + (iy + 0.5) * sy + rng.uniform(-0.1, 0.1) * sy
        feats.append({
            "type": "Feature",
            "id": f"NUTS-{k}",
            "geometry": _shape(rng, cx, cy, kinds[k % len(kinds)], sx),
            "properties": {
                "NUTS_ID": f"DE{k:05d}", "NUTS_NAME": f"Region {k}",
                "NAME_LATN": f"Region {k}", "LEVL_CODE": k % 4,
                "CNTR_CODE": ("DE", "FR", "NL", "AT")[k % 4], "type": "NUTS",
            },
        })
    return feats


# ---------------------------------------------------------------------------
# Image table
# ---------------------------------------------------------------------------


def _image(i: int, fmt: str, tiny: bool) -> np.ndarray:
    img = FX.make_image(i)
    if tiny:
        img = np.ascontiguousarray(img[:16, :16])
    return gifc.palettize_332(img) if fmt == "gif" else img


def make_images(rng, feats, n: int, hot: float, uniform: float, formats, tiny: bool):
    """-> pyarrow Table in the job's image schema. Placement: ``hot`` of
    the points in one res-7 cell, ``uniform`` spread over the frame, the
    rest clustered at polygon centroids."""
    cents = FX.feature_centroids(feats)
    kind = rng.choice(3, size=n, p=[1.0 - hot - uniform, hot, uniform])
    fidx = rng.integers(0, len(cents), size=n)
    spread = 0.1 * (LON_MAX - LON_MIN) / np.sqrt(len(cents))
    lon = cents[fidx, 0] + rng.normal(0, spread, n)
    lat = cents[fidx, 1] + rng.normal(0, 0.7 * spread, n)
    hc = cents[int(rng.integers(0, len(cents)))]
    h = kind == 1
    lon[h] = hc[0] + rng.normal(0, 0.004, h.sum())
    lat[h] = hc[1] + rng.normal(0, 0.003, h.sum())
    u = kind == 2
    lon[u] = rng.uniform(LON_MIN - 1, LON_MAX + 1, u.sum())
    lat[u] = rng.uniform(LAT_MIN - 1, LAT_MAX + 1, u.sum())

    base = int(rng.integers(0, 1 << 20))
    fmts = [formats[i % len(formats)] for i in range(n)]
    imgs = [_image(base + i, f, tiny) for i, f in enumerate(fmts)]
    return pa.table({
        "image_id": [f"img-{i:08d}" for i in range(n)],
        "bytes": pa.array([C.encode_image(im, f) for im, f in zip(imgs, fmts)], pa.binary()),
        "w": pa.array([im.shape[1] for im in imgs], pa.int32()),
        "h": pa.array([im.shape[0] for im in imgs], pa.int32()),
        "fmt": fmts,
        "caption": [FX.caption_for(base + i) for i in range(n)],
        "phash": pa.array(C.phash64_batch(imgs), pa.int64()),
        "lat": lat,
        "lon": lon,
    })


# ---------------------------------------------------------------------------
# Goldens
# ---------------------------------------------------------------------------


def digest(rows) -> str:
    """Order-independent digest of an iterable of tuples."""
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()[:16]


def rollup_rows(cells, phash) -> list[tuple]:
    """(cell, n_images, phash_xor) folded per res-7 cell."""
    acc: dict[int, list] = {}
    for c, p in zip(cells.tolist(), phash.tolist()):
        a = acc.setdefault(c, [0, 0])
        a[0] += 1
        a[1] ^= p
    return [(c, n, x) for c, (n, x) in acc.items()]


def job_goldens(feats, images: pa.Table) -> dict:
    ids = images.column("image_id").to_pylist()
    lat = images.column("lat").to_numpy()
    lon = images.column("lon").to_numpy()
    pip = FX.oracle_pip(ids, lat, lon, feats)
    knn = FX.oracle_knn(ids, lat, lon, feats)
    cells = h3x.h3_index(lat, lon, 7)
    roll = rollup_rows(cells, images.column("phash").to_numpy())
    return {
        "pip": digest(zip(pip["image_id"], pip["feature_id"])),
        "pip_rows": len(pip["image_id"]),
        "knn": digest(zip(knn["image_id"], knn["nearest_location_id"])),
        "knn_rows": len(knn["image_id"]),
        "rollup": digest(roll),
        "rollup_rows": len(roll),
    }


# ---------------------------------------------------------------------------
# Workload inputs
# ---------------------------------------------------------------------------


def build_dense_inputs(seed: int, out_dir: str) -> dict:
    """Write ``images.parquet`` + ``features.geojson`` into ``out_dir``;
    returns the goldens (also written as ``goldens.json``)."""
    rng = np.random.default_rng(_stable_seed("dense", seed))
    feats = make_features(rng, DENSE["n_polygons"], ("concave", "multi"))
    images = make_images(
        rng, feats, DENSE["n_images"], DENSE["hot"], DENSE["uniform"], ("ppm",), tiny=True
    )
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "features.geojson"), "w") as f:
        f.write(json.dumps({"type": "FeatureCollection", "features": feats}))
    pq.write_table(images, os.path.join(out_dir, "images.parquet"))
    gold = job_goldens(feats, images)
    gold["n_images"] = images.num_rows
    with open(os.path.join(out_dir, "goldens.json"), "w") as f:
        json.dump(gold, f)
    return gold


@functools.cache
def _sf_clone():
    spec = importlib.util.spec_from_file_location(
        "make_sf_clone", os.path.join(ROOT, "tools", "make_sf_clone.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


OPS_TABLES = ("documents", "embeddings")


# The DuckDB twins of the dedup queries take minutes even at a few hundred
# documents (per-character HUGEINT shingles, a recursive closure), so the
# documents are one fixed set whose goldens were produced by
# ``python3 perfbench/run.py --make-goldens`` and are committed in GOLDENS.
# Fixed documents also keep the dedup work the same from seed to seed.
# The images and embeddings follow the seed; the ANN twin is cheap enough
# to run on every setup.
GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "ops_goldens.json")


def make_documents():
    return _sf_clone().make_documents(
        np.random.default_rng(_stable_seed("docs", 0)), OPS_SPEC["n_docs"]
    )


def build_ops_inputs(seed: int, out_dir: str) -> dict:
    """Images for the mosaic plus an sf-like ``documents``/``embeddings``
    directory for the dedup and ANN queries."""
    rng = np.random.default_rng(_stable_seed("ops", seed))
    feats = make_features(rng, OPS_SPEC["n_polygons"], ("convex", "concave", "hole", "multi"))
    images = make_images(
        rng, feats, OPS_SPEC["n_images"], 0.10, 0.10, FX.FMT_CYCLE, tiny=False
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(images, os.path.join(out_dir, "images.parquet"))
    docs_path = os.path.join(out_dir, "documents.parquet")
    make_documents().to_parquet(docs_path, index=False)
    _sf_clone().make_embeddings(rng, OPS_SPEC["n_vecs"]).to_parquet(
        os.path.join(out_dir, "embeddings.parquet"), index=False
    )
    cells = h3x.h3_index(images.column("lat").to_numpy(), images.column("lon").to_numpy(), 7)
    counts: dict[int, int] = {}
    for c in cells.tolist():
        counts[c] = counts.get(c, 0) + 1
    with open(GOLDENS) as f:
        gold = json.load(f)
    if gold.pop("documents") != file_digest(docs_path):
        raise RuntimeError(f"the generated documents no longer match {GOLDENS}")
    gold.update(ops_oracles(out_dir, ("q_ann_topk",)))
    gold.update(mosaic=digest(counts.items()), n_images=images.num_rows)
    with open(os.path.join(out_dir, "goldens.json"), "w") as f:
        json.dump(gold, f)
    return gold


def make_doc_goldens() -> dict:
    """Run the DuckDB twins of the dedup queries over the documents."""
    import tempfile

    with tempfile.TemporaryDirectory(dir=os.environ.get("TMPDIR")) as d:
        path = os.path.join(d, "documents.parquet")
        make_documents().to_parquet(path, index=False)
        out = {"documents": file_digest(path)}
        out.update(ops_oracles(d, ("q_minhash_pairs", "q_dedup_clusters")))
    return out


def file_digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


OPS_QUERIES = ("q_minhash_pairs", "q_dedup_clusters", "q_ann_topk")


def canon(df) -> str:
    """Value hash over name-sorted columns and sorted rows, as
    ``tools/verify_contract.py`` compares them (floats at 6 decimals,
    arrays sorted)."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif s.dtype == object:
            df[c] = s.map(
                lambda v: str(sorted(v)) if isinstance(v, (list, np.ndarray)) else str(v)
            )
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


def ops_oracles(sf_dir: str, queries) -> dict:
    """DuckDB twins (``__spark_entry__.oracle_sql``) of ``queries`` over the
    generated directory -> {query: canon hash, query_rows: n}."""
    import duckdb

    import __spark_entry__ as E

    con = duckdb.connect()
    for t in OPS_TABLES:
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(
                f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
            )
    sql = E.oracle_sql()
    out = {}
    for q in queries:
        df = con.execute(sql[q]).df()
        out[q] = canon(df)
        out[q + "_rows"] = len(df)
    con.close()
    return out



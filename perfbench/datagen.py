"""Seeded input generation for the benchmark.

Everything the engine reads during a run is written here from ``--seed``:
the star-schema + ``events`` + ``documents`` + ``embeddings`` parquet tables
(the same schemas and value ranges as the engine's test data) and the raster
tree for the reference pipeline. The same seed gives byte-identical inputs;
different seeds give the same sizes and shapes with different values, so the
amount of work per pass does not depend on the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row agg key query scan batch"
).split()
LANGS = ["en", "en", "en", "en", "en", "en", "es", "zh", "de", "fr"]  # ~40% en, like the test data
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
COLORS = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
NOUNS = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table; matches the engine's test data at sf 0.001-0.1."""
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1500, int(1_500_000 * sf)),
        "lineitem": max(6000, int(6_000_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word soup over a 31-word vocabulary; 5% are an earlier doc + ' dup'
    (near duplicates) and 0.2% exact copies, as in the test data."""
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    n_near = n // 20
    n_exact = max(1, n // 500)
    targets = rng.choice(np.arange(n // 2, n), n_near + n_exact, replace=False)
    sources = rng.integers(0, n // 2, n_near + n_exact)
    for i, (t, s) in enumerate(zip(targets, sources)):
        texts[t] = texts[s] if i < n_exact else texts[s] + " dup"
    lang = [LANGS[i] for i in rng.integers(0, len(LANGS), n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten parquet tables; returns {table: bytes written}."""
    rng = np.random.default_rng([seed, 1])
    n = table_sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, nc)]),
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    npart = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array(
                [f"{COLORS[c]} {NOUNS[k]}" for c, k in rng.integers(0, 8, (npart, 2))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": pa.array([PART_TYPES[t] for t in rng.integers(0, 6, npart)]),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1)),
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, no)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, no) * _DAY_US),
            "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, no)]),
        }
    )
    nl = n["lineitem"]
    flags = rng.integers(0, 3, nl)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array([("A", "N", "R")[i] for i in flags]),
            "l_linestatus": pa.array([("O", "F")[i] for i in rng.integers(0, 2, nl)]),
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, nl) * _DAY_US),
        }
    )
    ne = n["events"]
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, ne))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts("2024-01-01", offsets),
            "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
            "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, ne)]),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )

    sizes = {}
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        sizes[name] = os.path.getsize(path)
    return sizes


# -- raster tree ----------------------------------------------------------

DOMAINS = [
    "air_quality",
    "biodiversity",
    "carbon",
    "communities",
    "infrastructure",
    "livelihoods",
    "natural_habitats",
    "sense_of_place",
]
DIMENSIONS = ["resistance", "recovery", "status"]


def _layer_pixels(rng: np.random.Generator, side: int) -> np.ndarray:
    """Smooth field plus noise: compresses like a real indicator surface,
    not like white noise or a constant."""
    k = 8
    coarse = rng.uniform(0.0, 1.0, (k, k)).astype(np.float32)
    idx = np.arange(side) * k // side
    field = coarse[np.ix_(idx, idx)]
    noise = rng.normal(0.0, 0.02, (side, side)).astype(np.float32)
    arr = np.round(field + noise, 3).astype(np.float32)
    arr[rng.uniform(size=(side, side)) < 0.05] = -9999.0  # nodata speckle
    return arr


def write_rasters(root: str, seed: int, n_layers: int, side: int) -> dict:
    """Write ``n_layers`` valid tiled Float32 GeoTIFFs under
    ``<root>/<domain>/indicators/``, one GeoTIFF with a corrupt pixel block
    (header intact, so it is inventoried and then fails COG conversion), and
    one file under ``archive/`` that the inventory must exclude.

    Returns the layout facts the correctness check compares against."""
    from wri_data_processing_spark.sources.tiff_fixture import write_geotiff_grid

    rng = np.random.default_rng([seed, 2])
    layers = []
    for i in range(n_layers):
        domain = DOMAINS[int(rng.integers(0, len(DOMAINS)))]
        dim = DIMENSIONS[int(rng.integers(0, len(DIMENSIONS)))]
        name = f"{domain}_{dim}_l{i:02d}_{int(rng.integers(0, 10**6)):06d}.tif"
        layers.append((domain, name))

    input_bytes = 0
    for domain, name in layers:
        d = os.path.join(root, domain, "indicators")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, name)
        write_geotiff_grid(path, _layer_pixels(rng, side), tiled=True, tile=256, predictor=3)
        input_bytes += os.path.getsize(path)

    corrupt_domain = DOMAINS[int(rng.integers(0, len(DOMAINS)))]
    d = os.path.join(root, corrupt_domain, "indicators")
    os.makedirs(d, exist_ok=True)
    corrupt = os.path.join(d, f"{corrupt_domain}_status_corrupt.tif")
    write_geotiff_grid(corrupt, _layer_pixels(rng, side), tiled=True, tile=256)
    with open(corrupt, "r+b") as f:  # clobber the first tile's deflate stream
        f.seek(8)
        f.write(b"\xff" * 64)

    os.makedirs(os.path.join(root, "archive"), exist_ok=True)
    write_geotiff_grid(
        os.path.join(root, "archive", "old_status.tif"), _layer_pixels(rng, 32), tiled=True
    )

    # A COG keeps its layer's file name (functions.scalar.make_cog_filename).
    hosted = sorted(layers[i][1] for i in rng.permutation(n_layers)[: n_layers // 2])
    return {
        "layers": [n for _, n in layers],
        "side": side,
        "input_bytes": input_bytes,
        "hosted": hosted,
    }

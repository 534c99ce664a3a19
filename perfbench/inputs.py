"""Seeded benchmark inputs, generated inside the checkout and cached.

The source tables ship with the benchmark in ``data/sf0.01`` (a verbatim
copy of the deterministic TPC-H-ish test tables at sf0.01), so a checkout
needs no data from outside. Inputs are built in three steps:

1. Base set, seed-independent: ``tools/make_scale_fixtures.py`` key-shifts
   the source tables and ``fixtures/publications.parquet`` FACTOR times.
   Cached by source digest and factor.
2. Seeded set: the seed permutes the row order of every table. For
   embeddings it also permutes the 64 dimensions, with its own permutation
   for each key-shifted copy. The base copies repeat every vector exactly;
   after the permutation every quantized value and every within-copy
   cosine is unchanged, so the planted near-duplicates survive, but no
   vector repeats across copies. Cached by seed.
3. Ingest XML (workloads with an ingest step): the base publications are rendered
   once with ``fixtures/make_publications_xml.render``; the seed permutes
   the record lines.

Everything is written under ``perfbench/.cache``. Events are written with
microsecond timestamps, so ``sources.parquet`` never rewrites them into
the temp dir while a pass runs.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIR = os.path.join(HERE, "data", "sf0.01")
CACHE_DIR = os.path.join(HERE, ".cache")
SCALE_TOOL = os.path.join(ROOT, "tools", "make_scale_fixtures.py")
XML_TOOL = os.path.join(ROOT, "fixtures", "make_publications_xml.py")
PUBLICATIONS = os.path.join(ROOT, "fixtures", "publications.parquet")

# Seeded sets kept on disk; older ones are evicted (each run uses a new seed).
KEEP_SEEDS = 4


def load_module(name: str, path: str):
    """Import a repo script by path, without putting its directory on
    sys.path (tools/ and fixtures/ are not packages)."""
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _source_digest() -> str:
    h = hashlib.sha256()
    paths = sorted(
        os.path.join(SOURCE_DIR, f) for f in os.listdir(SOURCE_DIR)
    ) + [PUBLICATIONS, SCALE_TOOL, XML_TOOL]
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _build_atomically(path: str, build) -> None:
    """Run ``build(tmp_dir)`` and rename into place only on success, so an
    interrupted build never leaves a directory that looks complete."""
    if os.path.isdir(path):
        return
    tmp = path + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, path)


def base_dir(factor: int, tables: tuple[str, ...], xml: bool) -> str:
    """The key-shifted, seed-independent base set (step 1, plus the
    rendered XML for step 3)."""
    shape = hashlib.sha256(repr((sorted(tables), xml)).encode()).hexdigest()[:8]
    path = os.path.join(CACHE_DIR, f"base-x{factor}-{shape}-{_source_digest()}")

    def build(tmp: str) -> None:
        subprocess.run(
            [sys.executable, SCALE_TOOL, "--src", SOURCE_DIR, "--out", tmp,
             "--factor", str(factor), "--tables", ",".join(tables)],
            check=True, stdout=subprocess.DEVNULL,
        )
        if xml:
            render = load_module("make_publications_xml", XML_TOOL).render
            rows = pq.read_table(os.path.join(tmp, "publications.parquet")).to_pylist()
            rows.sort(key=lambda r: r["key"])
            with open(os.path.join(tmp, "publications.xml"), "w", encoding="utf-8") as fh:
                for r in rows:
                    fh.write(render(r) + "\n")

    _build_atomically(path, build)
    return path


def permute_embedding_dims(
    table: pa.Table, rng: np.random.Generator, stride: int
) -> pa.Table:
    """Give each key-shifted copy (``vec_id // stride``) its own
    permutation of the embedding dimensions."""
    col = table.column("embedding").combine_chunks()
    if col.null_count:
        raise ValueError("embeddings with NULL vectors are not supported")
    n = len(col)
    x = col.flatten().to_numpy(zero_copy_only=False).reshape(n, -1)
    copy = table.column("vec_id").to_numpy() // stride
    copies, inverse = np.unique(copy, return_inverse=True)
    perms = np.stack([rng.permutation(x.shape[1]) for _ in copies])
    out = np.take_along_axis(x, perms[inverse], axis=1)
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * x.shape[1])
    arr = pa.ListArray.from_arrays(offsets, pa.array(out.ravel(), col.type.value_type))
    return table.set_column(
        table.schema.get_field_index("embedding"), "embedding", arr
    )


def _permute_file(
    src: str, dst: str, rng: np.random.Generator, stride: int
) -> None:
    pf = pq.ParquetFile(src)
    table = pf.read()
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    if "embedding" in table.column_names:
        table = permute_embedding_dims(table, rng, stride)
    # keep the base row-group size: the scan splits on row groups, so one
    # big group would hand the whole table to a single task
    group = pf.metadata.row_group(0).num_rows if pf.metadata.num_row_groups else None
    pq.write_table(table, dst, row_group_size=group)


def _evict_old_seeds() -> None:
    seeded = sorted(
        (os.path.join(CACHE_DIR, d) for d in os.listdir(CACHE_DIR)
         if d.startswith("seed-") and not d.endswith(".building")),
        key=os.path.getmtime,
    )
    for d in seeded[:-KEEP_SEEDS]:
        shutil.rmtree(d, ignore_errors=True)


def table_stats(path: str) -> dict:
    """Rows, distinct embedding vectors and the repo's order-insensitive
    content digest (``tools/make_scale_fixtures.table_digest``)."""
    import duckdb

    digest = load_module("make_scale_fixtures", SCALE_TOOL).table_digest
    out = {}
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(path, f)
            rows, dg = digest(con, p)
            entry = {"rows": rows, "digest": dg}
            if f == "embeddings.parquet":
                entry["distinct_vectors"] = con.sql(
                    f"SELECT count(DISTINCT embedding) FROM read_parquet('{p}')"
                ).fetchone()[0]
            out[f[: -len(".parquet")]] = entry
    finally:
        con.close()
    return out


def prepare(factor: int, tables: tuple[str, ...], seed: int, xml: bool = False) -> str:
    """Return the directory of the seeded input set; build it if absent.

    It holds one parquet file per table, ``STATS.json`` (per-table rows,
    distinct vectors, digest) and, with ``xml``, ``publications.xml``.
    """
    os.makedirs(CACHE_DIR, exist_ok=True)
    base = base_dir(factor, tables, xml)
    stride = load_module("make_scale_fixtures", SCALE_TOOL).STRIDE
    path = os.path.join(CACHE_DIR, f"seed-{os.path.basename(base)[5:]}-s{seed}")

    def build(tmp: str) -> None:
        for i, t in enumerate(sorted(tables)):
            rng = np.random.default_rng([seed, i])
            _permute_file(
                os.path.join(base, f"{t}.parquet"),
                os.path.join(tmp, f"{t}.parquet"),
                rng, stride,
            )
        if xml:
            with open(os.path.join(base, "publications.xml"), encoding="utf-8") as fh:
                lines = fh.readlines()
            order = np.random.default_rng([seed, len(tables)]).permutation(len(lines))
            with open(os.path.join(tmp, "publications.xml"), "w", encoding="utf-8") as fh:
                fh.writelines(lines[i] for i in order)
        with open(os.path.join(tmp, "STATS.json"), "w") as fh:
            json.dump(table_stats(tmp), fh, indent=1, sort_keys=True)

    _build_atomically(path, build)
    os.utime(path)
    _evict_old_seeds()
    return path

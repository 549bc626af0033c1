"""Seeded synthetic pages and their exact reference, cached on disk.

The pages come from ``sketchlib.data.gen_pages.gen_chunk`` in fixed-size
chunks, one parquet file per chunk, written by at most ``nproc`` generator
processes.  Chunk size is fixed, so the table is a function of (seed, rows)
alone.  The reference is computed once per (seed, rows) with
DuckDB, independently of Spark and of sketchlib's extraction code.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import numpy as np

CHUNK_ROWS = 12_500
#: the host expression of the host_profile workload; DuckDB's
#: regexp_extract (RE2) and Spark's (java.util.regex) agree on it
HOST_REGEX = r"^https?://([^/]+)"


def _write_chunks(pages_dir: str, seed: int, rows: int, chunks: list[int]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketchlib.data.gen_pages import SCHEMA, gen_chunk

    for i in chunks:
        start = i * CHUNK_ROWS
        table = pa.Table.from_pandas(gen_chunk(start, min(CHUNK_ROWS, rows - start), seed),
                                     schema=SCHEMA, preserve_index=False)
        path = _chunk_path(pages_dir, i)
        pq.write_table(table, path + ".part")
        os.replace(path + ".part", path)


def _chunk_path(pages_dir: str, i: int) -> str:
    return os.path.join(pages_dir, f"part-{i:05d}.parquet")


def _grouped(con, sql: str) -> dict:
    """(keys, offsets, sorted values) of an ``ORDER BY k, v`` result."""
    k, v = con.execute(sql).fetchnumpy().values()
    keys, starts = np.unique(np.asarray(k, dtype=object), return_index=True)
    order = np.argsort(starts)
    keys, starts = keys[order], starts[order]
    offs = np.append(starts, len(v)).astype(np.int64)
    return {"keys": keys.astype(str), "offs": offs,
            "vals": np.asarray(v, dtype=np.int64)}


def _reference(pages_dir: str, nproc: int, tmp_dir: str) -> dict:
    import duckdb

    con = duckdb.connect(config={"threads": nproc, "temp_directory": tmp_dir})
    try:
        src = f"read_parquet('{pages_dir}/*.parquet')"
        host = f"regexp_extract(url, '{HOST_REGEX}', 1)"
        lang = _grouped(con, f"SELECT lang, length(text) AS v FROM {src} ORDER BY 1, 2")
        hostlen = _grouped(con, f"SELECT {host} AS h, length(text) AS v FROM {src} ORDER BY 1, 2")
        d = con.execute(
            f"SELECT {host} AS h, count(DISTINCT url) FROM {src} GROUP BY 1 ORDER BY 1"
        ).fetchnumpy()
        hosts, distinct = d.values()
    finally:
        con.close()
    if list(np.asarray(hosts, dtype=str)) != list(hostlen["keys"]):
        raise RuntimeError("reference: host key sets disagree")
    return {
        "lang_keys": lang["keys"], "lang_offs": lang["offs"], "lang_lens": lang["vals"],
        "host_keys": hostlen["keys"], "host_offs": hostlen["offs"],
        "host_lens": hostlen["vals"],
        "host_distinct": np.asarray(distinct, dtype=np.int64),
    }


class Reference:
    """Exact per-key answers: row counts, sorted lengths, distinct urls."""

    def __init__(self, arrays: dict) -> None:
        self.arrays = arrays
        self.lang = self._index("lang")
        self.host = self._index("host")
        self.host_distinct = dict(zip(arrays["host_keys"].tolist(),
                                      arrays["host_distinct"].tolist()))

    def _index(self, name: str) -> dict[str, np.ndarray]:
        keys = self.arrays[f"{name}_keys"].tolist()
        offs, lens = self.arrays[f"{name}_offs"], self.arrays[f"{name}_lens"]
        return {k: lens[offs[i]:offs[i + 1]] for i, k in enumerate(keys)}


def ensure_inputs(work: str, seed: int, rows: int, nproc: int) -> tuple[str, Reference, dict]:
    """Return (pages_dir, reference, info).  ``info['datagen_s']`` is 0.0
    on a cache hit."""
    base = os.path.join(work, "data", f"seed{seed}_rows{rows}")
    pages = os.path.join(base, "pages")
    ref_path = os.path.join(base, "reference.npz")
    os.makedirs(pages, exist_ok=True)
    t0 = time.perf_counter()
    todo = [i for i in range(-(-rows // CHUNK_ROWS))
            if not os.path.exists(_chunk_path(pages, i))]
    # one generator process per core at most, each waited for
    procs = [subprocess.Popen([sys.executable, os.path.abspath(__file__), pages,
                               str(seed), str(rows)] + [str(i) for i in todo[w::nproc]])
             for w in range(min(nproc, len(todo)))]
    if any([p.wait() != 0 for p in procs]):
        raise RuntimeError("page generation failed")
    datagen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    if not os.path.exists(ref_path):
        arrays = _reference(pages, nproc, os.path.join(work, "tmp"))
        np.savez(ref_path + ".tmp.npz", **arrays)
        os.replace(ref_path + ".tmp.npz", ref_path)
    with np.load(ref_path, allow_pickle=False) as z:
        arrays = {k: z[k] for k in z.files}
    ref_s = time.perf_counter() - t0
    n_files = len([f for f in os.listdir(pages) if f.endswith(".parquet")])
    parquet_bytes = sum(os.path.getsize(os.path.join(pages, f))
                        for f in os.listdir(pages) if f.endswith(".parquet"))
    info = {"rows": rows, "seed": seed, "files": n_files,
            "parquet_bytes": parquet_bytes, "datagen_s": datagen_s,
            "reference_s": ref_s, "generated": bool(todo)}
    return pages, Reference(arrays), info


if __name__ == "__main__":
    # generator process: inputs.py PAGES_DIR SEED ROWS CHUNK...
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    _write_chunks(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), [int(a) for a in sys.argv[4:]])

"""Workload inputs: corpus and golden generation, cache, output checks.

Inputs are built from ``fixtures.write_corpus`` before any JVM starts,
and cached per (workload, rows, seed, hash of the fixture and oracle
sources), so a stale corpus is never reused after the generator or the
oracle changes.
"""

from __future__ import annotations

import hashlib
import json
import os
import multiprocessing
import shutil
from concurrent.futures import ProcessPoolExecutor

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The text-layer mix: four in five rows carry a pre-extracted text layer,
# so the parsers are skipped and the pipeline's own shuffles, normalize,
# write and lineage carry the job.
TEXTLAYER_MIX = [
    ("html_article_textlayer", 80),
    ("html_menu", 5),
    ("html_messy", 5),
    ("html_empty", 5),
    ("broken", 5),
]

GOLDEN_COLS = ("extracted_text", "error", "route")


def classes_for(mix: str):
    from pdf_to_text_spark import fixtures

    return {"crawl": fixtures.ROW_CLASSES, "textlayer": TEXTLAYER_MIX}[mix]


def source_hash(root: str) -> str:
    """Hash of every source the corpus and the goldens depend on."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "pdf_to_text_spark")
    files = [os.path.join(pkg, "fixtures.py")]
    core = os.path.join(pkg, "core")
    files += sorted(os.path.join(core, n) for n in os.listdir(core) if n.endswith(".py"))
    files.append(os.path.abspath(__file__))
    for path in files:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


SHARDS = 4
CACHE_KEEP = 24  # corpora kept on disk (about 11 MB crawl, 33 MB text-layer each)


def _write_shard(mix: str, n_rows: int, seed: int, out: str) -> dict:
    from pdf_to_text_spark import fixtures

    return fixtures.write_corpus(out, n_rows, seed=seed, goldens=True, classes=classes_for(mix))


def _concat(parts: list[str], name: str, out: str, **write_opts) -> None:
    """Concatenate one table of every shard, prefixing urls with the shard
    number so they stay unique."""
    tables = []
    for k, d in enumerate(parts):
        t = pq.read_table(os.path.join(d, name))
        url = pc.replace_substring(t.column("url"), "/doc/", f"/s{k}/doc/")
        tables.append(t.set_column(t.schema.get_field_index("url"), "url", url))
    pq.write_table(pa.concat_tables(tables), os.path.join(out, name), **write_opts)


def ensure_corpus(cache_root: str, root: str, mix: str, n_rows: int, seed: int) -> str:
    """Directory holding pages.parquet + golden_extracted.parquet.

    The corpus is SHARDS ``fixtures.write_corpus`` corpora with seeds
    derived from ``seed``, each built with its goldens in a process of its
    own. On a 4-core host this takes 4-6 s, against 10.7 s (crawl mix,
    1,632 rows) and 13.6 s (text-layer mix, 12,000 rows) for one
    sequential ``write_corpus``, time a run without a cached corpus
    cannot spare."""
    classes = classes_for(mix)
    weight = sum(w for _, w in classes)
    if n_rows % (weight * SHARDS):
        raise ValueError(
            f"rows={n_rows} is not a multiple of {SHARDS} x the class-weight sum {weight}"
        )
    key = f"{mix}-r{n_rows}-s{seed}-{source_hash(root)}"
    final = os.path.join(cache_root, key)
    done = os.path.join(final, "done.json")
    if os.path.isfile(done):
        os.utime(done)
        return final
    _prune(cache_root)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    parts = [os.path.join(tmp, f"shard{k}") for k in range(SHARDS)]
    # fork, not spawn: a spawning pool leaves multiprocessing's resource
    # tracker running until the benchmark exits. Nothing has used pyarrow's
    # thread pools yet, so forking is safe.
    with ProcessPoolExecutor(SHARDS, mp_context=multiprocessing.get_context("fork")) as pool:
        counts = list(
            pool.map(
                _write_shard,
                [mix] * SHARDS,
                [n_rows // SHARDS] * SHARDS,
                [seed * SHARDS + k for k in range(SHARDS)],
                parts,
            )
        )
    # write_corpus's layout: bounded row groups, so the scan splits
    _concat(parts, "pages.parquet", tmp, row_group_size=4096)
    _concat(parts, "golden_extracted.parquet", tmp)
    for d in parts:
        shutil.rmtree(d)
    total = {c: sum(cnt.get(c, 0) for cnt in counts) for c, _ in classes}
    with open(os.path.join(tmp, "done.json"), "w") as f:
        json.dump({"rows": n_rows, "seed": seed, "classes": total}, f)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


def _prune(cache_root: str) -> None:
    """Keep the CACHE_KEEP most recently used corpora; drop the partial
    corpora of killed runs."""
    from procfs import alive

    if not os.path.isdir(cache_root):
        return
    for name in os.listdir(cache_root):
        pid = name.rpartition(".tmp")[2]
        if ".tmp" in name and pid.isdigit() and not alive(int(pid)):
            shutil.rmtree(os.path.join(cache_root, name), ignore_errors=True)
    done = [os.path.join(cache_root, n, "done.json") for n in os.listdir(cache_root)]
    done = sorted((f for f in done if os.path.isfile(f)), key=os.path.getmtime, reverse=True)
    for d in (os.path.dirname(f) for f in done[CACHE_KEEP - 1 :]):
        shutil.rmtree(d, ignore_errors=True)


def load_goldens(corpus_dir: str) -> pa.Table:
    return pq.read_table(os.path.join(corpus_dir, "golden_extracted.parquet")).sort_by("url")


def read_output(out_dir: str) -> pa.Table:
    """The job's written rows, as a plain parquet reader sees them."""
    root = os.path.join(out_dir, "extracted")
    files = [
        os.path.join(d, n)
        for d, _, names in os.walk(root)
        for n in names
        if n.endswith(".parquet")
    ]
    cols = ["url", *GOLDEN_COLS, "extract_ms"]
    tables = [pq.read_table(f, columns=cols) for f in files]
    if not tables:
        return pa.table({c: pa.array([], pa.string()) for c in cols[:-1]})
    return pa.concat_tables(tables).sort_by("url")


def count_failed(out: pa.Table, golden: pa.Table) -> int:
    """Golden rows the output misses or gets wrong, plus extra and
    duplicated output rows.

    Compared url by url on (extracted_text, error, route)."""
    cols = ("url", *GOLDEN_COLS)
    got = {u: v for u, *v in zip(*(out.column(c).to_pylist() for c in cols))}
    want = {u: v for u, *v in zip(*(golden.column(c).to_pylist() for c in cols))}
    wrong = sum(1 for u, v in want.items() if got.get(u) != v)
    extra = sum(1 for u in got if u not in want)
    return wrong + extra + (out.num_rows - len(got))


def inject_fault(out: pa.Table) -> pa.Table:
    """Corrupt one output row's text, for the self-check."""
    texts = out.column("extracted_text").to_pylist()
    texts[0] = (texts[0] or "") + " [injected]"
    idx = out.schema.get_field_index("extracted_text")
    return out.set_column(idx, "extracted_text", pa.array(texts, pa.string()))


def lineage_ok(out_dir: str, run_id: str, n_rows: int, n_buckets: int) -> bool:
    """Lineage doc_count sums to the rows run; the manifest lists every bucket."""
    metrics = pq.read_table(os.path.join(out_dir, "metrics", f"metrics-{run_id}.parquet"))
    if pc.sum(metrics.column("doc_count")).as_py() != n_rows:
        return False
    with open(os.path.join(out_dir, "_manifest", f"{run_id}.json")) as f:
        buckets = {json.loads(line)["bucket"] for line in f}
    return buckets == set(range(n_buckets))


"""Seeded benchmark inputs, cached under the checkout's build directory.

Every input is a pure function of ``(GEN_VERSION, size, seed)`` and is
cached under that key, so a second run with the same seed reads parquet
instead of generating. Inputs are generated in Python before the run
starts its Spark session, so a cache miss leaves the JVM as cold as a
hit does. The program sees only these generated tables.

- ``crawl``: the rows ``corpus.corpus_df(seed)`` yields (the engine's
  own crawl generator, ``corpus.corpus_pandas``: html, gzip, cp1252,
  utf-16, PDF, corrupt and mega pages), made by ``nproc`` processes,
  stored with the ``n_bytes`` ingest column that
  ``sources.with_ingest_metadata`` writes. ``extract_fresh`` reads it
  through ``sources.read_documents`` (which pins the plain documents
  schema); the resume pass of its traced run reads it with ``n_bytes``.
- ``curation``: a documents table with planted exact-dup and near-dup
  clusters, per-site boilerplate and eval-suite overlap, plus the
  eval-suite table itself (the structure ``scripts/dedup_stress.py``
  plants, with the seed folded into every draw).
- ``tables``: the TPC-H-like tables, ``events``, ``documents`` and
  ``embeddings`` that the headline registry queries read, at about the
  0.01 scale factor, with the column types of TESTDATA.md.
"""

from __future__ import annotations

import multiprocessing
import os
import random
import shutil
import time

# bump when any generator below changes, so stale caches are never read
GEN_VERSION = 2

CURATION_VOCAB = 512
CLUSTER = 20  # doc_id blocks: members m = 0..3 of each block share a seed
EVAL_EVERY = 997  # every 997th singleton doc is copied into the eval suite


def cached(root: str, key: str, build) -> tuple[str, float]:
    """Return ``(dir, seconds spent generating)``; ``build(tmp_dir)``
    writes the input once, and the directory is renamed into place only
    when complete."""
    path = os.path.join(root, key)
    if os.path.isdir(path):
        return path, 0.0
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.monotonic()
    build(tmp)
    os.replace(tmp, path)
    return path, time.monotonic() - t0


def _write(table, table_dir: str, part: int = 0) -> None:
    """One parquet file of a table directory, timestamps as Spark writes
    them (INT96)."""
    import pyarrow.parquet as pq

    os.makedirs(table_dir, exist_ok=True)
    pq.write_table(
        table, f"{table_dir}/part-{part:05d}.parquet", use_deprecated_int96_timestamps=True
    )


# --------------------------------------------------------------------------
# crawl
# --------------------------------------------------------------------------


def _crawl_part(out: str, part: int, lo: int, hi: int, seed: int) -> None:
    """Rows ``lo..hi`` of the crawl for ``seed``, written as one file."""
    import pyarrow as pa

    from win64_local_ocr_tool_spark.corpus import corpus_pandas

    pdf = corpus_pandas(range(lo, hi), seed)
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize(None).astype("datetime64[us]")
    # what sources.with_ingest_metadata stores: length(html) in bytes
    pdf["n_bytes"] = pdf["html"].map(len).astype("int64")
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("n_bytes", pa.int64()),
        ]
    )
    _write(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), out, part)


def crawl(root: str, n: int, seed: int, procs: int) -> tuple[str, float]:
    from win64_local_ocr_tool_spark.corpus import CORPUS_VERSION

    def build(tmp: str) -> None:
        ctx = multiprocessing.get_context("spawn")
        workers = [
            ctx.Process(
                target=_crawl_part, args=(tmp, k, n * k // procs, n * (k + 1) // procs, seed)
            )
            for k in range(procs)
        ]
        for w in workers:
            w.start()
        for w in workers:
            w.join()
        if any(w.exitcode != 0 for w in workers):
            raise RuntimeError("a crawl generator process failed")

    return cached(root, f"crawl-g{GEN_VERSION}-c{CORPUS_VERSION}-n{n}-s{seed}", build)


# --------------------------------------------------------------------------
# curation documents
# --------------------------------------------------------------------------


def _curation_docs(n: int, seed: int) -> list[tuple[int, str, str, str]]:
    """``(doc_id, text, lang, source)`` rows. Members ``m = 0..3`` of each
    block of ``CLUSTER`` ids share a cluster seed: m = 0 and m = 3 are
    exact copies, m = 1 and m = 2 each swap one word (jaccard ~0.9, far
    above the LSH threshold); every third cluster seed carries its
    site's 8-word boilerplate unit, above the scrub's document
    frequency."""
    from win64_local_ocr_tool_spark.operators.textops import QUALITY_STOPWORDS

    vocab = list(QUALITY_STOPWORDS) * 8
    vocab += [f"w{i:03d}" for i in range(CURATION_VOCAB - len(vocab))]
    langs = ("en", "en", "en", "de", "hi", "sa")
    n_sites = max(64, n // 100)
    boiler = {}
    rows = []
    for doc_id in range(n):
        m = doc_id % CLUSTER
        cseed = doc_id - m if m <= 3 else doc_id
        rng = random.Random(f"curation:{seed}:{cseed}")
        nw = 56 + rng.randrange(4) * 8
        site = rng.randrange(n_sites)
        lang = rng.choice(langs)
        words = [vocab[rng.randrange(CURATION_VOCAB)] for _ in range(nw)]
        if m in (1, 2):
            swap = random.Random(f"curation:{seed}:{doc_id}:swap")
            words[4 + m * 7] = vocab[swap.randrange(CURATION_VOCAB)]
        if cseed % 3 == 0:
            if site not in boiler:
                srng = random.Random(f"curation:{seed}:site:{site}")
                boiler[site] = [vocab[srng.randrange(CURATION_VOCAB)] for _ in range(8)]
            words += boiler[site]
        rows.append((doc_id, " ".join(words), lang, f"site{site}"))
    return rows


def is_eval_doc(doc_id: int) -> bool:
    """Docs whose first 16 words form the eval suite: singletons only
    (m > 3), so each contaminated doc is its own cluster."""
    return doc_id % EVAL_EVERY == 0 and doc_id % CLUSTER > 3


def eval_suite_filter():
    """``is_eval_doc`` as a Spark column."""
    from pyspark.sql import functions as F

    return (F.col("doc_id") % EVAL_EVERY == 0) & (F.col("doc_id") % CLUSTER > 3)


def curation(root: str, n: int, seed: int) -> tuple[str, float]:
    """``<dir>/docs/documents.parquet`` and ``<dir>/bench/documents.parquet``."""
    import pyarrow as pa

    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int32()),
        ]
    )

    def table(rows):
        cols = list(zip(*rows)) if rows else [[]] * 4
        return pa.table([*cols, [len(t) for t in cols[1]]], schema=schema)

    def build(tmp: str) -> None:
        docs = _curation_docs(n, seed)
        bench = [
            (d, " ".join(t.split(" ")[:16]), lang, src)
            for d, t, lang, src in docs
            if is_eval_doc(d)
        ]
        _write(table(docs), f"{tmp}/docs/documents.parquet")
        _write(table(bench), f"{tmp}/bench/documents.parquet")

    return cached(root, f"curation-g{GEN_VERSION}-n{n}-s{seed}", build)


# --------------------------------------------------------------------------
# query tables (the schemas of the TPC-H-like test tables, TESTDATA.md)
# --------------------------------------------------------------------------

_DOC_VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join index plan"
).split()

QUERY_TABLE_SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "users": 150,
    "documents": 500,
    "embeddings": 200,
}


def _query_tables(sizes: dict, seed: int) -> dict:
    import numpy as np
    import pyarrow as pa

    def rng(*salt: int):
        return np.random.default_rng([seed, *salt])

    def pick(r, values, n):
        return np.asarray(values, dtype=object)[r.integers(0, len(values), n)]

    def days(r, base: str, span: int, n):
        return np.datetime64(base, "us") + r.integers(0, span, n).astype("timedelta64[D]")

    n_cust, n_supp, n_ord = sizes["customer"], sizes["supplier"], sizes["orders"]
    n_li, n_ev, n_doc, n_emb = (
        sizes["lineitem"],
        sizes["events"],
        sizes["documents"],
        sizes["embeddings"],
    )
    i32, i64, f64, ts = pa.int32(), pa.int64(), pa.float64(), pa.timestamp("us")
    r = rng(1)
    customer = {
        "c_custkey": (np.arange(n_cust), i64),
        "c_name": ([f"Customer#{k:09d}" for k in range(n_cust)], pa.string()),
        "c_nationkey": (r.integers(0, 25, n_cust), i32),
        "c_acctbal": (r.integers(0, 1099999, n_cust) / 100.0 - 999.99, f64),
        "c_mktsegment": (
            pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
            pa.string(),
        ),
    }
    r = rng(2)
    supplier = {
        "s_suppkey": (np.arange(n_supp), i64),
        "s_name": ([f"Supplier#{k:09d}" for k in range(n_supp)], pa.string()),
        "s_nationkey": (r.integers(0, 25, n_supp), i32),
        "s_acctbal": (r.integers(0, 1099999, n_supp) / 100.0 - 999.99, f64),
    }
    r = rng(3)
    orders = {
        "o_orderkey": (np.arange(n_ord), i64),
        "o_custkey": (r.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": (pick(r, ["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": (1000.0 + r.integers(0, 49900000, n_ord) / 100.0, f64),
        "o_orderdate": (days(r, "1995-01-01", 2400, n_ord), ts),
        "o_orderpriority": (
            pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
            pa.string(),
        ),
    }
    r = rng(4)
    lineitem = {
        "l_orderkey": (r.integers(0, n_ord, n_li), i64),
        "l_partkey": (r.integers(0, sizes["part"], n_li), i64),
        "l_suppkey": (r.integers(0, n_supp, n_li), i64),
        "l_linenumber": (r.integers(1, 8, n_li), i32),
        "l_quantity": (r.integers(1, 51, n_li).astype("float64"), f64),
        "l_extendedprice": (900.0 + r.integers(0, 10410000, n_li) / 100.0, f64),
        "l_discount": (r.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": (r.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": (pick(r, ["A", "N", "R"], n_li), pa.string()),
        "l_linestatus": (pick(r, ["F", "O"], n_li), pa.string()),
        "l_shipdate": (days(r, "1995-01-02", 2500, n_li), ts),
    }
    r = rng(5)
    events = {
        "event_id": (np.arange(n_ev), i64),
        "ts": (
            np.datetime64("2024-01-01T00:00:00", "us")
            + r.integers(0, 2592000000000, n_ev).astype("timedelta64[us]"),
            ts,
        ),
        "user_id": (r.integers(0, sizes["users"], n_ev), i64),
        "event_type": (
            pick(r, ["click", "error", "purchase", "signup", "view"], n_ev),
            pa.string(),
        ),
        "value": (r.integers(1, 49001, n_ev) / 100.0, f64),
        "props": ([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)], pa.string()),
    }
    # documents: words from a small shared vocabulary; every 10th doc is
    # a one-word edit of the doc before it, so the dedup queries find
    # near-duplicate pairs and components
    texts = []
    for k in range(n_doc):
        src = k - 1 if k % 10 == 9 else k
        rw = random.Random(f"documents:{seed}:{src}")
        words = [rw.choice(_DOC_VOCAB) for _ in range(10 + rw.randrange(90))]
        if k % 10 == 9:
            words[2] = random.Random(f"documents:{seed}:{k}:edit").choice(_DOC_VOCAB)
        texts.append(" ".join(words))
    r = rng(6)
    documents = {
        "doc_id": (np.arange(n_doc), i64),
        "text": (texts, pa.string()),
        "lang": (pick(r, ["en", "en", "en", "zh", "de", "es", "fr"], n_doc), pa.string()),
        "source": ([f"src{k}" for k in r.integers(0, 20, n_doc)], pa.string()),
        "n_chars": ([len(t) for t in texts], i64),
    }
    r = rng(7)
    values = ((r.integers(0, 20001, n_emb * 64) - 10000) / 40000.0).astype("float32")
    embeddings = {
        "vec_id": (np.arange(n_emb), i64),
        "embedding": (
            pa.ListArray.from_arrays(np.arange(0, n_emb * 64 + 1, 64, dtype="int32"), values),
            pa.list_(pa.float32()),
        ),
        "label": (r.integers(0, 10, n_emb), i32),
    }
    region = {
        "r_regionkey": (np.arange(5), i32),
        "r_name": (["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], pa.string()),
    }
    nation = {
        "n_nationkey": (np.arange(25), i32),
        "n_name": ([f"NATION_{k}" for k in range(25)], pa.string()),
        "n_regionkey": (np.arange(25) % 5, i32),
    }
    tables = dict(
        region=region,
        nation=nation,
        customer=customer,
        supplier=supplier,
        orders=orders,
        lineitem=lineitem,
        events=events,
        documents=documents,
        embeddings=embeddings,
    )
    return {
        name: pa.table(
            {
                c: v if isinstance(v, pa.Array) else pa.array(v, type=t)
                for c, (v, t) in cols.items()
            }
        )
        for name, cols in tables.items()
    }


def query_tables(root: str, seed: int) -> tuple[str, float]:
    """A directory of ``<table>.parquet`` as ``operators.tables.load``
    expects."""

    def build(tmp: str) -> None:
        for name, table in _query_tables(QUERY_TABLE_SIZES, seed).items():
            _write(table, f"{tmp}/{name}.parquet")

    n = QUERY_TABLE_SIZES["lineitem"]
    return cached(root, f"tables-g{GEN_VERSION}-n{n}-s{seed}", build)

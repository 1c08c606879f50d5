"""Seeded input generators for the benchmark.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes plain files; the engine only ever reads those
files.  Each generator returns the counts its output must produce, so
the benchmark can check the engine's results without a second engine:

* ``make_tables``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` parquet tables, with the column
  domains of the engine's fixture tables.  Query results are checked
  against DuckDB over the same files.  Money and event values carry
  full double precision: sums of two-decimal values often land exactly
  on a rounding boundary, where the two engines' summation orders round
  different ways.
* ``make_crawl``: a TSV crawl tree in the reference's layout (``mmdd``
  and ``yymmdd`` directory names over several years and months,
  malformed lines, duplicate lines, ``log*`` and hidden files, and a
  related-id graph of rings).  Returns the parsed / rejected /
  duplicate counts, the SCC cluster count and the link-analysis totals.
* ``make_incoming``: micro-batch files for the streaming dedup gate, a
  mix of exact duplicates, shingle-identical near duplicates and fresh
  documents.  Returns the number of documents the gate must accept.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
CATEGORIES = [
    "Entertainment", "Comedy", "Music", "Sports", "News & Politics",
    "People & Blogs", "Film & Animation", "Howto & Style",
]

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds() * 1_000_000)


def _write(path: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), path)


def _dates_us(rng, n: int, start: dt.datetime, days: int) -> pa.Array:
    day = rng.integers(0, days, n)
    base = _us(start)
    return pa.array(base + day * 86_400_000_000, pa.timestamp("us"))


def _doc_text(rng, n_words: int, vocab: list[str]) -> str:
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), n_words))


def make_tables(out_dir: str, sf: float, rng: np.random.Generator) -> None:
    """Write the ten fixture tables for scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = n_ord * 4
    n_events = max(1_000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(os.path.join(out_dir, "region.parquet"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(os.path.join(out_dir, "nation.parquet"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(os.path.join(out_dir, "customer.parquet"), {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]),
    })
    _write(os.path.join(out_dir, "supplier.parquet"), {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(rng.uniform(-999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(os.path.join(out_dir, "part.parquet"), {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([names[i] for i in rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1)),
    })
    _write(os.path.join(out_dir, "orders.parquet"), {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(rng.uniform(1000, 500_000, n_ord)),
        "o_orderdate": _dates_us(rng, n_ord, dt.datetime(1995, 1, 1), 2400),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]),
    })
    okeys = np.sort(rng.integers(0, n_ord, n_line))
    linenos = np.ones(n_line, dtype=np.int32)
    for i in range(1, n_line):  # 1-based line number within each order
        if okeys[i] == okeys[i - 1]:
            linenos[i] = linenos[i - 1] + 1
    qty = rng.integers(1, 51, n_line).astype(float)
    _write(os.path.join(out_dir, "lineitem.parquet"), {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(linenos, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(qty * rng.uniform(900, 2100, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_line)]),
        "l_shipdate": _dates_us(rng, n_line, dt.datetime(1995, 1, 2), 2499),
    })
    start = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)) + start
    _write(os.path.join(out_dir, "events.parquet"), {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)]),
        "value": pa.array(rng.exponential(50.0, n_events) + 0.01),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)]),
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # near duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_doc_text(rng, int(rng.integers(10, 100)), DOC_WORDS))
    _write(os.path.join(out_dir, "documents.parquet"), {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.3 + rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(os.path.join(out_dir, "embeddings.parquet"), {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


@dataclass(frozen=True)
class CrawlExpect:
    lines: int  # lines in the files the ingest reads
    input_bytes: int
    parsed: int
    rejected: int
    duplicates: int
    rings: int  # SCC clusters with more than one member
    ring_size: int
    linked_ids: int  # link_analysis rows
    links: int  # sum of times_linked over link_analysis rows
    trending_rows: int


def _crawl_dirs() -> list[tuple[str, dt.date]]:
    """Date-named directories: ``mmdd`` means 2007, ``yymmdd`` 2008+."""
    dirs = []
    for month in (2, 5, 9, 12):
        dirs.append((f"{month:02d}{month + 10:02d}", dt.date(2007, month, month + 10)))
    for year in (8, 9, 10):
        for month in (1, 4, 7, 10):
            day = 3 + month
            dirs.append((f"{year:02d}{month:02d}{day:02d}", dt.date(2000 + year, month, day)))
    return dirs


def make_crawl(
    root: str, n_videos: int, rng: np.random.Generator, ring_size: int = 10
) -> CrawlExpect:
    """Write a crawl tree of about ``n_videos`` videos under ``root``.

    Rings: every ring member lists the next member first, so each ring
    is one strongly connected component; other videos only point into
    rings or at ids that do not exist, so they never close a cycle.
    Rings stay below the SCC kernel's hop budget (15), so the labels
    converge and the cluster count is exact."""
    from wsu_cpts_415_spark.pipelines.trending import TOP_N_PER_CATEGORY

    dirs = _crawl_dirs()
    ids = [f"v{rng.integers(0, 1 << 40):011x}{i:05d}" for i in range(n_videos)]
    n_rings = max(2, n_videos // (4 * ring_size))
    ring_members = n_rings * ring_size
    related: list[list[str]] = []
    for i in range(n_videos):
        rel: list[str] = []
        if i < ring_members:
            ring, pos = divmod(i, ring_size)
            rel.append(ids[ring * ring_size + (pos + 1) % ring_size])
        else:
            for _ in range(int(rng.integers(0, 3))):
                rel.append(ids[int(rng.integers(0, ring_members))])
        for _ in range(int(rng.integers(0, 3))):  # dangling references
            rel.append(f"x{rng.integers(0, 1 << 40):011x}")
        related.append(rel)

    rows = []  # (dir index, line, video index)
    cats = []
    n_invalid_rating = 0
    for i, vid in enumerate(ids):
        rating = round(float(rng.uniform(0, 5)), 2)
        if rng.random() < 0.03:
            rating = 5.5  # parses, but the trending quality filter drops it
            n_invalid_rating += 1
        cat = CATEGORIES[int(rng.integers(0, len(CATEGORIES)))]
        cats.append((cat, rating <= 5))
        fields = [
            vid, f"user{int(rng.integers(0, 500))}", str(int(rng.integers(300, 1200))), cat,
            str(int(rng.integers(5, 5000))), str(int(rng.integers(0, 2_000_000))),
            f"{rating:.2f}", str(int(rng.integers(0, 20_000))),
            str(int(rng.integers(0, 5_000))), *related[i],
        ]
        rows.append((int(rng.integers(0, len(dirs))), "\t".join(fields), i))

    dup_rows = [rows[int(j)] for j in rng.integers(0, n_videos, max(1, n_videos // 30))]
    n_bad = max(2, n_videos // 50)
    bad_rows = []
    for k in range(n_bad):
        d = int(rng.integers(0, len(dirs)))
        if k % 2:
            bad_rows.append((d, f"bad{k}\tuser1\t12", -1))  # too few fields
        else:
            bad_rows.append((d, f"bad{k}\tuser1\t400\tMusic\t60\tmany\t3.0\t1\t1", -1))

    per_file: dict[str, list[str]] = {}
    for d, line, _ in rows + dup_rows + bad_rows:
        name = os.path.join(dirs[d][0], f"part{int(rng.integers(0, 3))}.txt")
        per_file.setdefault(name, []).append(line)
    ignored = {  # both must be skipped by the scan
        os.path.join(dirs[0][0], "log_crawl.txt"): [rows[0][1]],
        os.path.join(dirs[1][0], ".hidden.txt"): [rows[1][1]],
    }
    input_bytes = 0
    for rel, lines in list(per_file.items()) + list(ignored.items()):
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        body = "\n".join(lines) + "\n"
        with open(path, "w") as f:
            f.write(body)
        if rel in per_file:
            input_bytes += len(body.encode())

    # duplicate lines repeat a (date, id) pair, so the store keeps one
    n_dup = len(dup_rows)
    times_linked: dict[str, int] = {}
    id_set = set(ids)
    for rel in related:
        for r in rel:
            if r in id_set:
                times_linked[r] = times_linked.get(r, 0) + 1
    per_cat: dict[str, int] = {}
    for cat, ok in cats:
        if ok:
            per_cat[cat] = per_cat.get(cat, 0) + 1
    trending_rows = sum(min(n, TOP_N_PER_CATEGORY) for n in per_cat.values())
    return CrawlExpect(
        lines=len(rows) + n_dup + len(bad_rows),
        input_bytes=input_bytes,
        parsed=len(rows) + n_dup,
        rejected=len(bad_rows),
        duplicates=n_dup,
        rings=n_rings,
        ring_size=ring_size,
        linked_ids=len(times_linked),
        links=sum(times_linked.values()),
        trending_rows=trending_rows,
    )


def _same_shingles(text: str) -> str | None:
    """A different text with the same set of word bigrams: append the
    word that follows an earlier occurrence of the last word."""
    words = text.split()
    last = words[-1]
    for i in range(len(words) - 2, -1, -1):
        if words[i] == last:
            return text + " " + words[i + 1]
    return None


def make_incoming(
    out_dir: str,
    corpus: list[str],
    n_batches: int,
    batch_size: int,
    rng: np.random.Generator,
) -> tuple[int, int]:
    """Write ``n_batches`` parquet files of ``batch_size`` documents.

    Per batch: about 30% exact copies of a corpus or earlier-accepted
    text, 25% shingle-identical near duplicates of a corpus text or of a
    fresh document earlier in the same batch, and the rest fresh texts
    over a 2,000-word vocabulary (pairwise bigram Jaccard near 0).  The
    gate must accept exactly the fresh documents.  Returns (documents
    offered, documents the gate must accept)."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = [f"w{i}" for i in range(2000)]
    accepted: list[str] = []
    next_id = 10_000_000  # above every corpus doc_id
    for b in range(n_batches):
        ids, texts = [], []
        fresh_here: list[str] = []
        for _ in range(batch_size):
            u = rng.random()
            text = None
            if u < 0.30:
                pool = accepted if accepted and rng.random() < 0.5 else corpus
                text = pool[int(rng.integers(0, len(pool)))]
            elif u < 0.55:
                pool = fresh_here if fresh_here and rng.random() < 0.3 else corpus
                text = _same_shingles(pool[int(rng.integers(0, len(pool)))])
            if text is None:
                text = _doc_text(rng, int(rng.integers(30, 60)), vocab)
                fresh_here.append(text)
            ids.append(next_id)
            texts.append(text)
            next_id += 1
        accepted.extend(fresh_here)
        _write(os.path.join(out_dir, f"batch{b:04d}.parquet"), {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts),
        })
    return n_batches * batch_size, len(accepted)

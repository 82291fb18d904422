"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (seed, size parameters): the same
arguments give the same bytes. Outputs land in a cache directory keyed by
workload, seed and parameters, so a repeated run with the same seed skips
generation. Each dataset carries a manifest with a SHA-256 digest over its
files, so two machines can confirm they measured the same bytes.

    mr_text     one text file: Zipf-distributed words over a seeded
                vocabulary, with the string_match search word planted
    relational  TPC-H-shaped star schema (region, nation, customer,
                supplier, part, orders, lineitem) as parquet
    llm_dedup   a `documents` table as parquet, with a planted share of
                near-duplicate chains (a few word edits per copy)
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from datetime import date

import numpy as np

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
_EPOCH = date(1970, 1, 1)


def _days(d: date) -> int:
    return (d - _EPOCH).days


def _vocabulary(rng: np.random.Generator, n: int, min_len: int, max_len: int) -> list[str]:
    """n distinct random lowercase words; about 1 in 50 carries an apostrophe
    so the tokenizer's [A-Z][A-Z']* grammar is exercised."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        m = n - len(words)
        lens = rng.integers(min_len, max_len + 1, size=m)
        chars = rng.choice(_LETTERS, size=(m, max_len))
        apos = rng.random(m) < 0.02
        for row, ln, ap in zip(chars, lens, apos, strict=True):
            w = row[:ln].tobytes().decode("ascii")
            if ap and ln > 2:
                w = w[:-1] + "'" + w[-1]
            if w not in seen:
                seen.add(w)
                words.append(w)
    return words


def _zipf_ids(rng: np.random.Generator, n_vocab: int, n: int, s: float) -> np.ndarray:
    ranks = np.arange(1, n_vocab + 1, dtype=np.float64)
    cdf = np.cumsum(1.0 / (ranks + 2.7) ** s)
    cdf /= cdf[-1]
    return np.searchsorted(cdf, rng.random(n), side="right").astype(np.int64)


# ---------------------------------------------------------------------------
# mr_text
# ---------------------------------------------------------------------------


def gen_text(out_dir: str, seed: int, p: dict) -> None:
    """One text file of `lines` lines, each of `min_words`..`max_words`
    words drawn Zipf(`zipf_s`) from a `vocab`-word vocabulary. The search
    word sits at Zipf rank `search_rank`, so string_match keeps a stable
    share of lines. Every 7th line starts with a capitalised word and
    every line ends with a period, so case folding and punctuation are
    part of the tokenizer's work."""
    rng = np.random.default_rng([seed, 1])
    vocab = [w for w in _vocabulary(rng, p["vocab"], 2, 11) if p["search_word"] not in w]
    vocab.insert(p["search_rank"] - 1, p["search_word"])
    vocab = np.array(vocab[: p["vocab"]], dtype=object)
    n_lines = p["lines"]
    per_line = rng.integers(p["min_words"], p["max_words"] + 1, size=n_lines)
    ids = _zipf_ids(rng, len(vocab), int(per_line.sum()), p["zipf_s"])
    words = vocab[ids]
    bounds = np.concatenate([[0], np.cumsum(per_line)])
    caps = np.zeros(n_lines, dtype=bool)
    caps[::7] = True
    path = os.path.join(out_dir, "corpus.txt")
    with open(path, "w", encoding="ascii", newline="\n") as fh:
        chunk: list[str] = []
        for i in range(n_lines):
            line = " ".join(words[bounds[i] : bounds[i + 1]])
            if caps[i]:
                line = line[0].upper() + line[1:]
            chunk.append(line + ".")
            if len(chunk) == 50_000:
                fh.write("\n".join(chunk) + "\n")
                chunk = []
        if chunk:
            fh.write("\n".join(chunk) + "\n")


# ---------------------------------------------------------------------------
# relational
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_COLORS = ["red", "blue", "green", "black", "white", "hot", "cold", "large",
           "small", "bright", "dark", "pale", "shiny", "rusty", "sandy"]
_NOUNS = ["ring", "bolt", "nut", "screw", "gear", "spring", "valve", "pipe"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "SMALL", "STANDARD"]


def _money(rng: np.random.Generator, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    return rng.integers(lo_cents, hi_cents + 1, size=n) / 100.0


def _ts(days: np.ndarray):
    import pyarrow as pa

    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"))


def gen_star(out_dir: str, seed: int, p: dict) -> None:
    """Star schema with the fixture's column names and value domains.
    Row counts follow TPC-H ratios at scale factor `sf`: customer 150k,
    supplier 10k, part 200k, orders 1.5M (1-7 lineitems each) per unit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    sf = p["sf"]
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)

    def write(name: str, cols: dict) -> None:
        pq.write_table(
            pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
        )

    write("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": _REGIONS,
    })
    write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    write("customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -99_999, 999_999, n_cust),
        "c_mktsegment": np.array(_SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp, dtype=np.int64)
    write("supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -99_999, 999_999, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    colors = np.array(_COLORS, dtype=object)[rng.integers(0, len(_COLORS), n_part)]
    nouns = np.array(_NOUNS, dtype=object)[rng.integers(0, len(_NOUNS), n_part)]
    retail = (90_000 + (pk // 10) % 20_001 + 100 * (pk % 1_000)) / 100.0
    write("part", {
        "p_partkey": pk,
        "p_name": colors + " " + nouns,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_TYPES, dtype=object)[rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": retail,
    })
    ok = np.arange(n_ord, dtype=np.int64)
    odate = rng.integers(_days(date(1995, 1, 1)), _days(date(2001, 8, 2)), n_ord)
    n_lines = rng.integers(1, 8, n_ord)
    write("orders", {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 90_000, 50_000_000, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(_PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)],
    })
    n_li = int(n_lines.sum())
    l_ok = np.repeat(ok, n_lines)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    l_partkey = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": l_ok,
        "l_partkey": l_partkey,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array((np.arange(n_li) - starts + 1).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_partkey] * 100) / 100.0,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odate, n_lines) + rng.integers(1, 122, n_li)),
    })


# ---------------------------------------------------------------------------
# llm_dedup
# ---------------------------------------------------------------------------

_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def gen_documents(out_dir: str, seed: int, p: dict) -> None:
    """`docs` documents of `min_words`..`max_words` Zipf-drawn words. A
    `dup_share` of them are near-duplicates: a copy of one of the previous
    500 documents (itself a copy at most `max_depth` - 1 times over, so
    clusters form short chains) with `edits` random word substitutions,
    which keeps most copies above the 0.8 Jaccard gate on 5-character
    shingles."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    vocab = np.array(_vocabulary(rng, p["vocab"], 2, 10), dtype=object)
    n = p["docs"]
    texts: list[str] = []
    depth = np.zeros(n, dtype=np.int64)
    is_dup = rng.random(n) < p["dup_share"]
    is_dup[0] = False
    lens = rng.integers(p["min_words"], p["max_words"] + 1, n)
    for i in range(n):
        if is_dup[i]:
            src = int(rng.integers(max(0, i - 500), i))
            while depth[src] >= p["max_depth"]:
                src -= 1
            depth[i] = depth[src] + 1
            words = texts[src].split(" ")
            pos = rng.integers(0, len(words), p["edits"])
            for j, w in zip(pos, _zipf_ids(rng, len(vocab), len(pos), p["zipf_s"]), strict=True):
                words[j] = vocab[w]
        else:
            words = vocab[_zipf_ids(rng, len(vocab), int(lens[i]), p["zipf_s"])].tolist()
        texts.append(" ".join(words))
    pq.write_table(
        pa.table({
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS, dtype=object)[rng.integers(0, len(_LANGS), n)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }),
        os.path.join(out_dir, "documents.parquet"),
        compression="snappy",
    )


GENERATORS = {"text": gen_text, "star": gen_star, "documents": gen_documents}


def digest_dir(path: str) -> str:
    """SHA-256 over (relative name, bytes) of every file, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        if name.endswith(".json"):
            continue  # manifest and oracle cache, not input bytes
        h.update(name.encode() + b"\0")
        with open(os.path.join(path, name), "rb") as fh:
            for block in iter(lambda: fh.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def ensure(cache_root: str, kind: str, seed: int, params: dict) -> dict:
    """Generate (or reuse) one dataset; returns its manifest: directory,
    digest, byte count and the parameters that produced it."""
    key = hashlib.sha256(
        json.dumps([kind, seed, params], sort_keys=True).encode()
    ).hexdigest()[:16]
    out = os.path.join(cache_root, f"{kind}-s{seed}-{key}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        manifest["cached"] = True
        return manifest
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[kind](tmp, seed, params)
    manifest = {
        "kind": kind,
        "seed": seed,
        "params": params,
        "dir": os.path.abspath(out),
        "bytes": sum(os.path.getsize(os.path.join(tmp, f)) for f in os.listdir(tmp)),
        "sha256": digest_dir(tmp),
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    manifest["cached"] = False
    return manifest

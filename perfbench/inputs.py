"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (seed, size): the same seed writes
byte-identical parquet. Tables are written with pyarrow, so generating
them costs no Spark job; the pipelines read them back through
``sources.load_table`` like any other source table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Flight-shaped frame (the reference notebook's 2008 on-time table).
CARRIERS = [f"C{i:02d}" for i in range(20)]
AIRPORTS = [f"A{i:03d}" for i in range(120)]
KEY_COLS = ["Year", "Month", "DayofMonth", "UniqueCarrier", "FlightNum", "Origin"]

# Function words per language; the pipeline's lang_id keeps "en".
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"],
    "es": ["el", "la", "de", "y", "en", "es", "los", "por", "con", "del"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "im", "ein"],
    "fr": ["le", "la", "de", "et", "est", "les", "un", "une", "dans", "pour"],
}
CLONE_TAIL = " near duplicate tail"
PII_SNIPPETS = [
    " contact {u}@example.com now",
    " mail {u}.ops@corp-{h}.org today",
    " server at 10.{a}.{b}.7 up",
    " call 555-{a:03d}-{b:04d} soon",
    " or +49151{b:07d} anytime",
]
HOSTS = [f"site{i}.example.com" for i in range(12)]


@dataclass
class Inputs:
    """Paths of the generated tables plus what the output checks need."""

    table_dir: str
    rows: int
    input_bytes: int
    planted_pairs: list[tuple[int, int]] = field(default_factory=list)


def _write(tbl: pa.Table, table_dir: str, name: str) -> int:
    os.makedirs(table_dir, exist_ok=True)
    path = os.path.join(table_dir, f"{name}.parquet")
    pq.write_table(tbl, path, compression="snappy")
    return os.path.getsize(path)


def flights(seed: int, rows: int, table_dir: str) -> Inputs:
    """Flight-shaped frame with the reference's quality defects: an HHMM
    ``DepTime`` with nulls and out-of-range values, an all-null
    ``TailNum``, a mostly-null ``CancellationCode``, exact duplicate
    rows and compound-key duplicates."""
    rng = np.random.default_rng(seed)
    n = rows
    month = rng.integers(1, 13, n)
    day = rng.integers(1, 29, n)
    hour = rng.integers(0, 25, n)  # 24xx is the reference's midnight quirk
    minute = rng.integers(0, 60, n)
    dep = hour * 100 + minute
    bad = rng.random(n) < 0.01  # hour 25..99 or minute 60..99
    dep = np.where(bad, rng.integers(25, 100, n) * 100 + rng.integers(0, 100, n), dep)
    dep_null = rng.random(n) < 0.02
    crs = np.clip(dep + rng.integers(-30, 31, n), 0, 2359)
    dist = rng.integers(50, 3000, n)
    dist = np.where(rng.random(n) < 0.002, -dist, dist)  # validity failures
    delay = rng.normal(5, 30, n).round().astype(np.int64)
    delay_null = rng.random(n) < 0.03
    cancel = rng.random(n) < 0.03
    code = np.array(["A", "B", "C"])[rng.integers(0, 3, n)]
    cols = {
        "Year": np.full(n, 2008, dtype=np.int32),
        "Month": month.astype(np.int32),
        "DayofMonth": day.astype(np.int32),
        "DayOfWeek": rng.integers(1, 8, n).astype(np.int32),
        "DepTime": dep.astype(np.int32),
        "CRSDepTime": crs.astype(np.int32),
        "UniqueCarrier": np.array(CARRIERS)[rng.integers(0, len(CARRIERS), n)],
        "FlightNum": rng.integers(1, 7000, n).astype(np.int32),
        "Origin": np.array(AIRPORTS)[rng.integers(0, len(AIRPORTS), n)],
        "Dest": np.array(AIRPORTS)[rng.integers(0, len(AIRPORTS), n)],
        "Distance": dist.astype(np.int32),
        "DepDelay": delay,
        "Cancelled": cancel.astype(np.int32),
    }
    # compound-key duplicates: 1% of rows take another row's key
    dst = rng.choice(n, n // 100, replace=False)
    src = rng.choice(n, n // 100, replace=False)
    for c in KEY_COLS:
        cols[c][dst] = cols[c][src]
    # exact duplicates: 0.5% of rows are copies of another row
    dst = rng.choice(n, n // 200, replace=False)
    src = rng.choice(n, n // 200, replace=False)
    for c in cols:
        cols[c][dst] = cols[c][src]
    dep_null[dst] = dep_null[src]
    delay_null[dst] = delay_null[src]
    cancel = cols["Cancelled"].astype(bool)
    code[dst] = code[src]
    tbl = pa.table({
        **{c: pa.array(v) for c, v in cols.items() if c not in ("DepTime", "DepDelay")},
        "DepTime": pa.array(cols["DepTime"], mask=dep_null),
        "DepDelay": pa.array(cols["DepDelay"], mask=delay_null),
        "TailNum": pa.nulls(n, pa.string()),
        "CancellationCode": pa.array(code, mask=~cancel),
    })
    return Inputs(table_dir, n, _write(tbl, table_dir, "flights"))


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(letters, rng.integers(3, 9))))
    return np.array(sorted(words))


def _doc(rng: np.random.Generator, vocab: np.ndarray, lang: str, n_tok: int) -> str:
    content = rng.choice(vocab, n_tok)
    stops = rng.choice(STOPWORDS[lang], n_tok)
    return " ".join(np.where(rng.random(n_tok) < 0.3, stops, content))


def corpus(seed: int, n_docs: int, table_dir: str) -> Inputs:
    """Release corpus: mostly English documents with injected emails, IPs
    and phone numbers, some in other languages and some too short (the
    quality and language filters drop them), 3% exact duplicates (half
    of them differing only in case and edge whitespace), planted
    near-dup clones (a base text plus a short tail, one clone per
    planted pair, with a larger id than its base), and a ``url`` column
    over a skewed set of hosts (so the per-domain cap bites on the big
    ones) plus non-URL values that pass the cap uncapped."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 400)
    langs = rng.choice(["en", "es", "de", "fr"], n_docs, p=[0.85, 0.05, 0.05, 0.05])
    n_tok = rng.integers(5, 120, n_docs)
    texts = []
    for lg, k in zip(langs, n_tok):
        t = _doc(rng, vocab, lg, int(k))
        for snip in PII_SNIPPETS:
            if rng.random() < 0.15:
                t += snip.format(u=rng.choice(vocab), h=rng.integers(0, 50),
                                 a=int(rng.integers(0, 256)), b=int(rng.integers(0, 10_000)))
        texts.append(t)
    perm = rng.permutation(n_docs)
    k = n_docs * 3 // 100
    for j, (d, s) in enumerate(zip(perm[:k], perm[k:2 * k])):
        texts[d] = texts[s] if j % 2 else "  " + texts[s].upper() + " "
    bases = [int(b) for b in perm[2 * k:4 * k] if langs[b] == "en" and n_tok[b] >= 20]
    weights = 1.0 / np.arange(1, len(HOSTS) + 1)
    host = list(np.array(HOSTS)[rng.choice(len(HOSTS), n_docs, p=weights / weights.sum())])
    ids = [int(i) for i in np.arange(n_docs, dtype=np.int64) * 7 + 3]
    pairs = []
    for b in sorted(bases):
        ids.append(ids[-1] + 7)
        texts.append(texts[b] + CLONE_TAIL)
        host.append(host[b])
        pairs.append((ids[b], ids[-1]))
    urls = [f"https://{h}/d/{i}" if r < 0.9 else f"plain text {i}"
            for h, i, r in zip(host, ids, rng.random(len(ids)))]
    tbl = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts),
                    "url": pa.array(urls)})
    return Inputs(table_dir, len(ids), _write(tbl, table_dir, "corpus"),
                  planted_pairs=pairs)

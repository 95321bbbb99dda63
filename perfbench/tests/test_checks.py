"""Each output check accepts a correct result and rejects a corrupted one.

The correct results are built from the checks' own references (no
Spark), so these tests pin the checks, not the pipelines.
"""

from __future__ import annotations

import copy
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import workloads as w


@pytest.fixture(autouse=True)
def small_inputs(monkeypatch):
    monkeypatch.setattr(w, "FLIGHT_ROWS", 2_000)
    monkeypatch.setattr(w, "CORPUS_DOCS", 400)


# ---------------------------------------------------------------- flights

def flights_result(state, out):
    exp = state.expected
    os.makedirs(out)
    pq.write_table(pa.table({"x": list(range(state.inp.rows))}),
                   os.path.join(out, "part-0.parquet"))
    return dict(
        dropped=list(exp["dropped"]),
        null_profile=[{"column": c, "n_null": n} for c, n in exp["null_counts"].items()],
        freqs=[{"column": c, "value": v, "n": n} for c, v, n in exp["freqs"]],
        exact=exp["exact"], key=exp["key"],
        rules=[{"rule": r, "n_fail": n} for r, n in exp["rules"].items()],
        days=[{"day": d, "n_events": n} for d, n in exp["days"]],
        out=out,
    )


def test_flight_check(tmp_path):
    state = w.prepare_flights(None, 7, str(tmp_path))
    assert state.expected["dropped"] == ["TailNum"]
    assert state.expected["rules"]["dep_time_range"] > 0
    assert state.expected["key"][0] > 0 and state.expected["exact"][0] > 0
    res = flights_result(state, str(tmp_path / "out"))
    assert w.check_flights(state, res) == []

    bad = copy.deepcopy(res)
    bad["null_profile"][0]["n_null"] += 1
    assert any("null counts" in p for p in w.check_flights(state, bad))
    bad = copy.deepcopy(res)
    bad["rules"][0]["n_fail"] -= 1
    assert any("rule failures" in p for p in w.check_flights(state, bad))
    bad = copy.deepcopy(res)
    bad["days"].pop()
    assert any("day coverage" in p for p in w.check_flights(state, bad))


# ----------------------------------------------------------------- corpus

def corpus_result(state, out):
    """Release every kept doc up to each host's cap, packed in id order."""
    exp, budget = state.expected, w.CORPUS_ARGS["budget"]
    path = os.path.join(state.inp.table_dir, "corpus.parquet")
    texts = dict(zip(*pq.read_table(path, columns=["doc_id", "text"]).to_pydict().values()))
    left = dict(exp["per_host"])
    rows, cum = [], 0
    for i in sorted(exp["survivors"]):
        h = exp["hosts"][i]
        if left[h] == 0:
            continue
        left[h] -= 1
        clean = " ".join(
            "[PII]" if any(p.search(t) for p in w.LEAKS) else t
            for t in texts[i].split(" "))
        n = len(w._tokens(clean))
        cum += n
        rows.append((i, clean, n, cum, (cum - n) // budget))
    os.makedirs(out)
    cols = ["doc_id", "clean", "n_tokens", "cum_tokens", "shard"]
    pq.write_table(pa.table(dict(zip(cols, map(list, zip(*rows))))),
                   os.path.join(out, "part-0.parquet"))
    return dict(out=out)


def rewrite(res, out, fn):
    tbl = pq.read_table(res["out"]).to_pydict()
    fn(tbl)
    os.makedirs(out)
    pq.write_table(pa.table(tbl), os.path.join(out, "part-0.parquet"))
    return dict(out=out)


def test_corpus_check(tmp_path):
    state = w.prepare_corpus(None, 7, str(tmp_path))
    assert state.inp.planted_pairs
    res = corpus_result(state, str(tmp_path / "ok"))
    assert w.check_corpus(state, res) == []
    assert w.check_corpus(state, res) == []  # same fingerprint again

    def leak(t):
        t["clean"][0] += " mail bob@example.com"

    def reshard(t):
        t["shard"][-1] += 1

    def duplicate(t):
        for col in t.values():
            col.append(col[0])

    def keep_clone(t):
        t["doc_id"][-1] = state.inp.planted_pairs[-1][1]

    for fn, msg in ((leak, "PII"), (reshard, "shard"), (duplicate, "unique"),
                    (keep_clone, "near-dup clones")):
        bad = rewrite(res, str(tmp_path / fn.__name__), fn)
        assert any(msg in p for p in w.check_corpus(state, bad)), fn.__name__

"""Tests of the benchmark's own helpers: order statistics, the seeded
input generators and span self time. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
from collections import Counter
import json
import time

import pytest

from perfbench import gen
from perfbench.stats import percentile, summary
from perfbench.trace import Tracer

VOCAB = [f"term{i:03d}" for i in range(200)]
LANGS = ["python", "java", "go"]
KEYS = [(f"org{i % 3}/repo", f"src/f{i}.py") for i in range(500)]
DOCS = [("python", f"body {i} text") for i in range(20)]


def test_percentile_nearest_rank():
    vals = [15, 20, 35, 40, 50]
    assert percentile(vals, 5) == 15
    assert percentile(vals, 30) == 20
    assert percentile(vals, 40) == 20
    assert percentile(vals, 50) == 35
    assert percentile(vals, 100) == 50
    assert percentile(list(range(1, 101)), 95) == 95
    assert percentile(list(range(1, 11)), 90) == 9
    assert percentile(list(reversed(range(1, 11))), 90) == 9
    assert percentile([7.5], 99) == 7.5


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1, 2], 0)
    with pytest.raises(ValueError):
        percentile([1, 2], 101)


def test_summary_quartiles_and_count():
    s = summary([1, 2, 3, 4, 5, 6, 7, 8], p=90)
    assert s["n"] == 8 and s["median"] == 4.5
    assert s["q1"] < s["median"] < s["q3"]
    assert s["p90"] == 8
    assert summary([]) == {"n": 0}


def _queries(seed):
    pool = gen.query_pool(seed, VOCAB, LANGS)
    return gen.encode_queries(pool, gen.query_stream(seed, pool, 2000))


def _events(seed, n=3):
    return b"".join(body for body, _ in
                    itertools.islice(gen.cdc_chunks(seed, KEYS, DOCS, 100), n))


def test_query_stream_is_deterministic_per_seed():
    assert _queries(1) == _queries(1)
    assert _queries(1) != _queries(2)


def test_query_stream_covers_every_class_and_repeats():
    lines = [json.loads(x) for x in _queries(3).splitlines()]
    assert {q["cls"] for q in lines} == set(gen.QUERY_CLASSES)
    assert {q["k"] for q in lines} == {1, 10, 100}
    counts = Counter(json.dumps(q, sort_keys=True) for q in lines)
    assert len(counts) < len(lines) / 2 and max(counts.values()) >= 20
    # every window of one class cycle holds each class in its exact share
    cycle = len(gen.CLASS_CYCLE)
    for w in range(0, len(lines) - cycle + 1, cycle):
        window = Counter(q["cls"] for q in lines[w:w + cycle])
        assert window == Counter(gen.CLASS_CYCLE)


def test_class_and_k_shares_follow_the_reference_queries():
    from dbsyncer_spark.fixtures.corpus import reference_queries
    from dbsyncer_spark.functions.tokenizer import tokenize_py

    ref = reference_queries()
    filtered = [q for q in ref if q["filterLang"]]
    rest = [q for q in ref if not q["filterLang"]]
    multi = [q for q in rest if len(tokenize_py(q["text"])) > 1
             and q["text"] != "zzz_does_not_exist"]
    shares = Counter(gen.CLASS_CYCLE)
    assert len(gen.CLASS_CYCLE) == len(ref)
    assert shares["filtered"] == len(filtered)
    assert shares["multi"] == len(multi)
    assert shares["hot"] + shares["rare"] + shares["miss"] == len(rest) - len(multi)
    assert Counter(gen._K_CYCLE) == Counter(q["k"] for q in ref)


def test_event_chunks_are_deterministic_per_seed():
    assert _events(1) == _events(1)
    assert _events(1) != _events(2)


def test_event_chunks_hit_live_keys_and_count_live_docs():
    live = set(KEYS)
    ops = {"UPDATE": 0, "INSERT": 0, "DELETE": 0}
    for body, live_after in itertools.islice(gen.cdc_chunks(5, KEYS, DOCS, 200), 4):
        for line in body.splitlines():
            ev = json.loads(line)
            key = (ev["changedRow"]["repo"], ev["changedRow"]["path"])
            ops[ev["event"]] += 1
            if ev["event"] == "INSERT":
                assert key not in live
                live.add(key)
            else:
                assert key in live
                if ev["event"] == "DELETE":
                    live.remove(key)
        assert live_after == len(live)
    assert ops["UPDATE"] > ops["INSERT"] > ops["DELETE"] > 0


def test_self_time_excludes_children():
    tr = Tracer()
    with tr.span("outer:a"):
        time.sleep(0.02)
        with tr.span("inner:b"):
            time.sleep(0.05)
    self_s = tr.self_seconds()
    (_, o0, o1, _, _), (_, i0, i1, parent, _) = tr.spans
    assert parent == 0  # the inner span's parent is the outer one
    assert self_s["inner"] == pytest.approx(i1 - i0) and self_s["inner"] >= 0.05
    assert self_s["outer"] == pytest.approx((o1 - o0) - (i1 - i0))
    assert self_s["outer"] >= 0.02

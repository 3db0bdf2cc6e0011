"""Seeded inputs: the serving query stream and the CDC event chunks.

Both are pure functions of their seed and of plain lists passed in, so
the same seed gives byte-identical output and the engine only ever sees
the generated inputs.
"""

from __future__ import annotations

import json

import numpy as np

QUERY_CLASSES = ("hot", "rare", "multi", "miss", "filtered")
# The class and k shares are those of the repo's reference query set,
# ``fixtures.corpus.reference_queries()`` (FIXTURES.md T2), 15 queries:
# three single terms (``import`` and ``return`` hot, ``shard`` the set's
# single rare term), eight of 2-4 terms once camelCase and snake_case
# identifiers are split (queries 4-7, 10, 11, 13, 14), one miss
# (``zzz_does_not_exist``) and three with a lang filter (9, 12, 15).
# 13 of the 15 ask for k=10, one for k=1 and one for k=100. On the
# generated corpus ``shard`` is not rare (12th most frequent of 53
# terms), so the rare class draws from the less frequent half instead.
_MIX = {"hot": 2, "rare": 1, "multi": 8, "miss": 1, "filtered": 3}
_K_CYCLE = (10,) * 6 + (1,) + (10,) * 6 + (100,) + (10,)
POOL_PER_CLASS = 256  # distinct queries of each class in the pool
# Zipf exponent of query popularity within a class. No query log fixes
# it; it is chosen so that queries repeat without a few dominating: in
# the first 600 queries of a stream about a third are repeats, and in
# the 1,000-1,300 local queries of a 10 s serve run about half.
ZIPF_S = 0.5
# shares of UPDATE, INSERT and DELETE among the CDC events
CDC_MIX = (0.7, 0.2, 0.1)


def _class_cycle() -> list[str]:
    """One period of the class sequence: weighted round robin over _MIX,
    so every window of 15 queries holds each class in its exact share."""
    credit = dict.fromkeys(_MIX, 0)
    out = []
    for _ in range(sum(_MIX.values())):
        for c in _MIX:
            credit[c] += _MIX[c]
        c = max(_MIX, key=lambda c: credit[c])
        credit[c] -= sum(_MIX.values())
        out.append(c)
    return out


CLASS_CYCLE = _class_cycle()


def query_pool(seed: int, terms_by_df: list[str], langs: list[str]) -> list[dict]:
    """``POOL_PER_CLASS`` distinct queries ``{"cls", "text", "k", "lang"}`` of
    each class. ``terms_by_df`` is the corpus vocabulary, most frequent
    first: ``hot`` is one of its 16 first terms, ``rare`` one term of its
    less frequent half, ``multi`` 2-4 terms of any frequency, ``miss`` a
    term absent from the corpus, and ``filtered`` a hot or multi-term
    query with a ``lang`` filter. ``k`` cycles through ``_K_CYCLE``."""
    if len(terms_by_df) < 32:
        raise ValueError("query_pool needs at least 32 vocabulary terms")
    rng = np.random.default_rng([seed, 1])
    hot = terms_by_df[:16]
    rare = terms_by_df[len(terms_by_df) // 2:]

    def pick(terms, n):
        return [terms[j] for j in rng.choice(len(terms), n, replace=False)]

    pool = []
    for cls in QUERY_CLASSES:
        for i in range(POOL_PER_CLASS):
            lang = None
            if cls == "hot":
                words = pick(hot, 1)
            elif cls == "rare":
                words = pick(rare, 1)
            elif cls == "multi":
                words = pick(terms_by_df, int(rng.integers(2, 5)))
            elif cls == "miss":
                # letters only, so the tokenizer keeps it one absent term
                tag = "".join(chr(97 + int(c)) for c in f"{abs(seed)}{i:04d}")
                words = [f"zzmiss{tag}"]
            else:
                words = pick(hot, 1) if i % 2 else pick(terms_by_df, int(rng.integers(2, 4)))
                lang = str(langs[i % len(langs)])
            pool.append({"cls": cls, "text": " ".join(words),
                         "k": _K_CYCLE[i % len(_K_CYCLE)], "lang": lang})
    return pool


def query_stream(seed: int, pool: list[dict], n: int) -> list[int]:
    """``n`` pool indices. Classes follow ``CLASS_CYCLE``; within a class
    queries are drawn with Zipf popularity (``ZIPF_S``) over a seeded permutation, so
    popular queries repeat while the class mix stays exact."""
    rng = np.random.default_rng([seed, 2])
    draws = {}
    for cls in QUERY_CLASSES:
        idx = rng.permutation([i for i, q in enumerate(pool) if q["cls"] == cls])
        p = 1.0 / np.arange(1, len(idx) + 1) ** ZIPF_S
        draws[cls] = iter(idx[rng.choice(len(idx), size=n, p=p / p.sum())].tolist())
    return [next(draws[CLASS_CYCLE[i % len(CLASS_CYCLE)]]) for i in range(n)]


def encode_queries(pool: list[dict], stream: list[int]) -> bytes:
    """The stream as JSON lines, one query per line."""
    return b"".join(
        json.dumps(pool[i], sort_keys=True, separators=(",", ":")).encode() + b"\n"
        for i in stream
    )


def cdc_chunks(seed: int, keys: list[tuple[str, str]], docs: list[tuple[str, str]],
               chunk_size: int):
    """JSON-lines ROW event chunks for ``replay_changed_events``:
    UPDATE / INSERT / DELETE in proportions ``CDC_MIX``. UPDATE and DELETE
    draw their key from the keys live at that point, so every one of them
    hits a live document; INSERT keys are new. ``keys`` are the starting
    (repo, path) keys, ``docs`` a pool of (lang, content) bodies. Yields
    ``(chunk bytes, live doc count after the chunk)`` without end."""
    rng = np.random.default_rng([seed, 3])
    live = sorted(keys)
    n_new = 0
    p_update, p_insert = CDC_MIX[0], CDC_MIX[0] + CDC_MIX[1]
    c = 0
    while True:
        lines = []
        for j in range(chunk_size):
            u = rng.random()
            lang, content = docs[int(rng.integers(len(docs)))]
            commit = f"cdc{seed}-{c}-{j}"
            if u < p_update:
                repo, path = live[int(rng.integers(len(live)))]
                ev = {"type": "ROW", "event": "UPDATE", "changedRow": {
                    "repo": repo, "path": path, "commit": commit,
                    "lang": lang, "content": content}}
            elif u < p_insert:
                repo, path = "perfbench/cdc", f"src/s{seed}/n{n_new}.txt"
                n_new += 1
                live.append((repo, path))
                ev = {"type": "ROW", "event": "INSERT", "changedRow": {
                    "repo": repo, "path": path, "commit": commit,
                    "lang": lang, "content": content}}
            else:
                i = int(rng.integers(len(live)))
                repo, path = live[i]
                live[i] = live[-1]
                live.pop()
                ev = {"type": "ROW", "event": "DELETE",
                      "changedRow": {"repo": repo, "path": path}}
            lines.append(json.dumps(ev, sort_keys=True, separators=(",", ":")))
        yield "\n".join(lines).encode() + b"\n", len(live)
        c += 1

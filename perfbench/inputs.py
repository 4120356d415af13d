"""Seeded input generators for the three benchmark workloads.

Everything here is plain Python (plus numpy/pandas for the curation
tables) and depends only on the seed it is given: the same seed gives
byte-identical inputs. The engine sees only the generated data.

- ``search_corpus``: curated tweets + users, built by the repository's
  own fixture generators (``tests/fixtures/gen_tweets.make_users`` /
  ``make_tweets``), which take an rng.
- ``raw_capture``: a raw JSON-lines capture with the FIXTURES.md
  composition (originals, ``RT`` lines with a nested
  ``retweeted_status``, quotes, malformed lines, delete events and
  duplicate lines), plus its golden counts from
  ``gen_tweets.compute_golden``. ``make_raw_stream`` is pinned to one
  seed and 500 users, so this is a seeded re-implementation on the
  same helpers.
- ``etl_delta``: the key-merge batch for the curated tweets.
- ``curation_tables``: ``documents`` / ``embeddings`` / ``events``
  parquet files shaped like the TPC-H-ish test data (TESTDATA.md):
  same schemas, value ranges and planted near-duplicates.
"""

from __future__ import annotations

import json
import os
import random
import sys
from datetime import datetime, timedelta, timezone

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tests", "fixtures"))

import gen_tweets as G  # noqa: E402

#: Word list of the test-data ``documents`` table.
DOC_VOCAB = ("spark window merge table column vector stream value data "
             "small join filter big group hash customer sort order slow "
             "line part fast row the agg key query a scan batch").split()
DOC_LANGS = ["en", "de", "es", "fr", "zh"]
DOC_LANG_WEIGHTS = [40, 15, 15, 15, 15]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EVENTS_START = datetime(2024, 1, 1)


# -- search_serve ------------------------------------------------------

def search_corpus(seed: int, n_users: int,
                  n_tweets: int) -> tuple[list[dict], list[dict]]:
    """(users, tweets) as the dicts the fixture generators produce."""
    rng = random.Random(seed)
    users = G.make_users(n_users, rng)
    tweets = G.make_tweets(n_tweets, rng)
    return users, tweets


# -- etl_load ------------------------------------------------------------

def _raw_user(users: list[dict], idx: int) -> dict:
    u = users[idx]
    return {"id": int(u["id"]), "id_str": u["id"], "name": u["name"],
            "screen_name": u["screen_name"], "location": u["location"],
            "description": u["description"], "verified": u["verified"],
            "followers_count": u["followers_count"],
            "friends_count": u["friends_count"],
            "created_at": u["created_at"]}


def raw_capture(seed: int, n_lines: int,
                n_users: int = 5000) -> tuple[list[str], dict]:
    """A raw capture of about ``n_lines`` lines and its golden counts.

    Composition (FIXTURES.md): 35% originals, 55% retweets of a pool of
    targets (60% of which never appear as their own line, so the ETL
    must hoist them), 5% quotes, 5% malformed / delete / limit lines,
    then 3% exact duplicates of original lines, shuffled in."""
    rng = random.Random(seed)
    users = G.make_users(n_users, random.Random(seed + 1))

    def status(sid: int, ts: datetime, text: str,
               quote: dict | None = None) -> dict:
        return {
            "created_at": G.twitter_date(ts), "id": sid, "id_str": str(sid),
            "text": text, "user": _raw_user(users, rng.randrange(n_users)),
            "timestamp_ms": str(int(ts.timestamp() * 1000)), "lang":
            rng.choices(G.LANGS, weights=[70, 12, 10, 8])[0],
            "favorite_count": rng.randrange(0, 100),
            "retweet_count": rng.randrange(0, 40),
            "quote_count": rng.randrange(0, 5),
            "reply_count": rng.randrange(0, 10),
            "is_quote_status": quote is not None,
            "entities": G._entities(rng),
            **({"quoted_status": quote} if quote is not None else {}),
        }

    def when() -> datetime:
        return G.BASE_DT + timedelta(seconds=rng.randrange(30 * 86400))

    def text(p_kw: float) -> str:
        return G._text(rng, rng.choice(G.KEYWORDS)
                       if rng.random() < p_kw else None)

    n_orig, n_rt, n_quote = (int(n_lines * 0.35), int(n_lines * 0.55),
                             int(n_lines * 0.05))
    n_bad = n_lines - n_orig - n_rt - n_quote
    lines: list[str] = []
    sid = 3_000_000_000 + 10_000_000 * (seed % 100)
    for _ in range(n_orig):
        lines.append(json.dumps(status(sid, when(), text(0.4))))
        sid += 1
    targets = []
    for _ in range(max(1, n_rt // 4)):
        ts = when()
        quote = (status(sid + 500_000_000, ts - timedelta(hours=2), text(0))
                 if rng.random() < 0.2 else None)
        targets.append(status(sid, ts, text(1.0), quote))
        sid += 1
    for og in targets:
        if rng.random() < 0.4:      # the rest exist only when hoisted
            lines.append(json.dumps(og))
    for _ in range(n_rt):
        og = rng.choice(targets)
        rt = status(sid, when(), f"RT @{og['user']['screen_name']}: "
                                 f"{og['text'][:80]}")
        rt["retweeted_status"] = og
        lines.append(json.dumps(rt))
        sid += 1
    for _ in range(n_quote):
        ts = when()
        quote = status(sid + 500_000_000, ts - timedelta(hours=1), text(0))
        lines.append(json.dumps(status(sid, ts, text(1.0), quote)))
        sid += 1
    bad_pool = ['{"delete": {"status": {"id": 123, "id_str": "123"}}}',
                '{truncated json...', '', '{"limit": {"track": 42}}',
                'not json at all']
    lines.extend(bad_pool[i % len(bad_pool)] for i in range(n_bad))
    originals = [ln for ln in lines if ln.startswith('{"created_at"')
                 and '"retweeted_status"' not in ln]
    lines.extend(rng.sample(originals, int(n_lines * 0.03)))
    rng.shuffle(lines)
    return lines, G.compute_golden(lines)


def original_favorites(lines: list[str]) -> dict[str, int]:
    """id_str -> favorite_count of every original the ETL keeps (the
    line itself for non-RT lines, the hoisted ``retweeted_status`` for
    RT lines), by the same classification as ``compute_golden``."""
    out: dict[str, int] = {}
    for ln in lines:
        try:
            d = json.loads(ln)
        except ValueError:
            continue
        if not isinstance(d, dict) or "id_str" not in d:
            continue
        if d["text"].startswith("RT"):
            d = d.get("retweeted_status")
            if d is None:
                continue
        out[d["id_str"]] = d["favorite_count"]
    return out


def etl_delta(seed: int, favorites: dict[str, int],
              n_updates: int, n_new: int) -> tuple[list[dict], list[dict]]:
    """The merge batch: ``n_updates`` existing originals with a raised
    favorite_count (the update wins under ``order_by``) and ``n_new``
    new keys copied from other originals. Returned as (updates, new)
    lists of {"src": id_str to copy, "id_str": key, "favorite_count"}."""
    rng = random.Random(seed)
    ids = sorted(favorites)
    picked = rng.sample(ids, n_updates + n_new)
    updates = [{"src": i, "id_str": i,
                "favorite_count": favorites[i] + rng.randrange(1, 1000)}
               for i in picked[:n_updates]]
    new = [{"src": i, "id_str": f"9{i}",
            "favorite_count": rng.randrange(0, 1000)}
           for i in picked[n_updates:]]
    return updates, new


# -- curation_batch ------------------------------------------------------

def curation_tables(seed: int, out_dir: str, n_documents: int,
                    n_embeddings: int, n_events: int, n_event_users: int,
                    ) -> None:
    """Write documents / embeddings / events parquet files under
    ``out_dir`` with the schemas and value shapes of the test data."""
    import numpy as np
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_documents):
        r = rng.random()
        if i > 10 and r < 0.05:          # planted near-duplicate
            texts.append(texts[rng.randrange(i)] + " dup")
        elif i > 10 and r < 0.052:       # planted exact duplicate
            texts.append(texts[rng.randrange(i)])
        else:
            texts.append(" ".join(rng.choices(DOC_VOCAB,
                                              k=rng.randint(10, 100))))
    pd.DataFrame({
        "doc_id": np.arange(n_documents, dtype=np.int64),
        "text": texts,
        "lang": rng.choices(DOC_LANGS, weights=DOC_LANG_WEIGHTS,
                            k=n_documents),
        "source": [f"src{rng.randrange(20)}" for _ in range(n_documents)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }).to_parquet(os.path.join(out_dir, "documents.parquet"), index=False)

    npr = np.random.default_rng(seed)
    vecs = npr.standard_normal((n_embeddings, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pd.DataFrame({
        "vec_id": np.arange(n_embeddings, dtype=np.int64),
        "embedding": list(vecs),
        "label": npr.integers(0, 10, n_embeddings).astype(np.int32),
    }).to_parquet(os.path.join(out_dir, "embeddings.parquet"), index=False)

    gaps = npr.exponential(30 * 86400 / n_events, n_events)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64)
    pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pd.Timestamp(EVENTS_START) + pd.to_timedelta(ts_us, unit="us"),
        "user_id": npr.integers(0, n_event_users, n_events).astype(np.int64),
        "event_type": npr.choice(EVENT_TYPES, n_events),
        "value": np.round(npr.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in npr.integers(0, 100, n_events)],
    }).to_parquet(os.path.join(out_dir, "events.parquet"), index=False)


def parse_twitter_date(s: str) -> datetime:
    return datetime.strptime(s, "%a %b %d %H:%M:%S %z %Y").astimezone(
        timezone.utc)

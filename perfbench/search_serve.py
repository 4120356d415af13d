"""``search_serve``: the tweet-search app's read path.

One client in a closed loop, like the reference's single Streamlit
reader waiting for each page. The request flow is the reference's
(SURVEY.md §3, entry points 1 and 2):

- a results page (``app.py:106-191``) looks its keyword up in the
  ``tweet`` result cache and its hashtag in the ``hashtag`` cache
  (``app.py:141-144``); each cached result is a top-50 search with the
  author join (``cache.py:142-159``, J1). The page is the union of the
  two (U2) sliced to ten rows (T7, ``app.py:146-148,200-202``), so
  pages after the first are cut from the cached results. Every results
  page also renders the two top-5 sidebars (T4, ``app.py:156,171``),
  which the reference runs uncached;
- a user page (``app.py:262-342``) looks the author up in the ``user``
  cache (``app.py:269``), then runs the user's tweets filtered by the
  search's keyword and hashtag (``app.py:301``), uncached.

Each entity class has its own LRU cache of 10 entries, as in the
reference (``cache.py:252``): one ``QueryMemo`` per class. Keywords and
hashtags are the fixture vocabulary (50 keywords, 30 hashtags), so
each search cache sees more distinct keys than it holds.

Assumed, with no source in the reference: a session is one search
followed by pages 1 and 2 of its results and the user page of the top
result's author (four requests); the keyword and the hashtag of a
search are independent, each Zipf-distributed with exponent 1.0 (Zipf's
law in its classic form) over a popularity order that the seed
shuffles; the search form's language and date range are left at
"any". The popularity ranks come from a low-discrepancy sequence
(session ``j`` takes ``frac(j * a)`` through the Zipf CDF, with ``a``
irrational), so every few sessions draw the ranks in Zipf's
proportions: a run of a few seconds sees the steady-state hit/miss mix,
and every seed sees the same hit/miss sequence.

Checks: every measured request is compared with a pure-Python
evaluation over the generated dicts (filters, sort keys, limit, author
join, page slice); a seeded sample is recomputed without the memo and
must equal the served result.
"""

from __future__ import annotations

import bisect
import math
import os
import random
from itertools import accumulate

from . import harness as H
from . import inputs

N_TWEETS = 5_000
N_USERS = 500
#: Entries per entity cache (``cache.py:252``).
MEMO_ENTRIES = 10
#: Zipf exponent of keyword and hashtag popularity (assumed).
ZIPF_S = 1.0
#: Requests of a session: results pages 0, 1, 2, then the user page
#: (assumed).
SESSION = ("page", "page", "page", "user")
WARMUP_SESSIONS = 5
RECHECK_SHARE = 0.1
LIMIT = 50          # cache.py:158
PAGE_SIZE = 10      # app.py:148
SIDEBAR_K = 5       # app.py:156,171

#: Per-layer metrics this workload produces.
LAYERS = ("search.build_ms", "memo.lookup_ms", "memo.materialize_ms",
          "memo.read_ms", "memo.hit_ratio", "memo.evictions",
          "memo.hit_p50_ms", "memo.miss_p50_ms")

#: Steps of the keyword and hashtag rank sequences: irrational and
#: unrelated, so the two ranks of a search are independent.
STEPS = ((math.sqrt(5) - 1) / 2, math.sqrt(2) - 1)


def _zipf_cdf(n: int) -> list[float]:
    cum = list(accumulate(rank ** -ZIPF_S for rank in range(1, n + 1)))
    return [c / cum[-1] for c in cum]


class Workload:
    unit = "request"
    layers = LAYERS
    block = len(SESSION)
    sessions = 1

    def __init__(self, seed: int, work_dir: str):
        self.seed, self.work_dir = seed, work_dir
        self.n_tweets = N_TWEETS
        self.warmup = WARMUP_SESSIONS * len(SESSION)
        self.hits: list[bool] = []
        self.requests: list[dict] = []
        self.results: list[dict | None] = []
        self.lookups = self.lookup_hits = self.evictions = 0
        self.check_s = 0.0      # every check runs after the timed loop

    # -- inputs ------------------------------------------------------
    def generate(self) -> None:
        import json

        self.users, self.tweets = inputs.search_corpus(
            self.seed, N_USERS, self.n_tweets)
        rng = random.Random(self.seed + 7)
        self.keywords = rng.sample(inputs.G.KEYWORDS, len(inputs.G.KEYWORDS))
        self.hashtags = rng.sample(inputs.G.HASHTAGS, len(inputs.G.HASHTAGS))
        # the user page follows the last non-empty first page
        self.top_author = (self.users[0]["id"], self.users[0]["screen_name"])
        self.tweet_json = [json.dumps(t) for t in self.tweets]
        self.user_json = [json.dumps(u) for u in self.users]

    def describe(self) -> dict:
        return {"corpus_tweets": self.n_tweets, "users": len(self.users),
                "keywords": len(self.keywords),
                "hashtags": len(self.hashtags),
                "memo_entries_per_entity": MEMO_ENTRIES, "zipf_s": ZIPF_S,
                "session": list(SESSION), "warmup_requests": self.warmup}

    def _search(self, j: int) -> tuple[str, str]:
        """Keyword and hashtag of session ``j``."""
        return tuple(
            terms[bisect.bisect_right(_zipf_cdf(len(terms)), j * a % 1)]
            for terms, a in zip((self.keywords, self.hashtags), STEPS))

    # -- engine ------------------------------------------------------
    def setup(self, spark) -> None:
        from twitter_analysis_spark.plans.memo import QueryMemo

        self.spark = spark
        sc = spark.sparkContext
        root = os.path.join(self.work_dir, "search")
        tpath, upath = f"{root}/tweets.parquet", f"{root}/users.parquet"
        spark.read.json(sc.parallelize(self.tweet_json, 8)) \
            .write.mode("overwrite").parquet(tpath)
        spark.read.json(sc.parallelize(self.user_json, 2)) \
            .write.mode("overwrite").parquet(upath)
        self.tweets_df = spark.read.parquet(tpath)
        self.users_df = spark.read.parquet(upath)
        self.memos = {e: QueryMemo(spark, f"{root}/memo-{e}",
                                   max_entries=MEMO_ENTRIES)
                      for e in ("tweet", "hashtag", "user")}
        # Start-up fills each search cache with its most popular terms,
        # most popular last, as the reference warms its tweet cache with
        # the corpus' top keywords (K4, cache.py:220-254).
        for entity, terms in (("tweet", self.keywords),
                              ("hashtag", self.hashtags)):
            for term in reversed(terms[:MEMO_ENTRIES]):
                self._lookup(entity, term)
        for i in range(self.warmup):
            self._serve(self._request(i))
        self.lookups = self.lookup_hits = self.evictions = 0

    def _request(self, i: int) -> dict:
        """The ``i``-th request of the session stream."""
        step = SESSION[i % len(SESSION)]
        kw, ht = self._search(i // len(SESSION))
        if step == "user":
            return {"kind": "user", "keyword": kw, "hashtag": ht,
                    "author": self.top_author}
        return {"kind": "page", "keyword": kw, "hashtag": ht,
                "page": i % len(SESSION)}

    # builders of the three cached entities (``cache.py:142-178``)
    def _build(self, entity: str, term: str):
        from twitter_analysis_spark.operators import search

        if entity == "tweet":
            return search.search_tweets(self.tweets_df, self.users_df,
                                        keyword=term, limit=LIMIT)
        if entity == "hashtag":
            return search.search_tweets(self.tweets_df, self.users_df,
                                        hashtags=[term], limit=LIMIT)
        return search.user_by_screen_name(self.users_df, term)

    def _page(self, kw_df, ht_df, page: int):
        from pyspark.sql import functions as F

        from twitter_analysis_spark.functions.dates import parse_twitter_ts
        from twitter_analysis_spark.operators import search

        return search.paginate(
            kw_df.unionByName(ht_df),
            [F.desc("favorite_count"), F.desc("retweet_count"),
             parse_twitter_ts(F.col("created_at")).desc(), F.asc("id_str")],
            page, PAGE_SIZE)

    def _direct(self, req: dict) -> dict:
        """The uncached queries of a request."""
        from twitter_analysis_spark.operators import search

        t, u = self.tweets_df, self.users_df
        if req["kind"] == "user":
            return {"tweets": search.tweets_for_user(
                t, req["author"][0], keyword=req["keyword"],
                hashtags=[req["hashtag"]], limit=LIMIT).collect()}
        return {"top_users": search.top_users_by_followers(
                    u, SIDEBAR_K).collect(),
                "top_tweets": search.top_tweets_by_favorites(
                    t, SIDEBAR_K).collect()}

    def _lookup(self, entity: str, term: str):
        """(hit, DataFrame) through the entity's memo."""
        tracer, memo = self.probe.tracer, self.memos[entity]
        params = {"entity": entity, "key": term}
        with tracer.span("memo.lookup"):
            df = memo.lookup(params)
        self.lookups += 1
        if df is not None:
            self.lookup_hits += 1
            return True, df

        def build():
            with tracer.span("search.build"):
                return self._build(entity, term)

        before = memo.stats()["entries"]
        with tracer.span("memo.get_or_compute"):
            df = memo.get_or_compute(params, build)
        self.evictions += before + 1 - memo.stats()["entries"]
        return False, df

    def _serve(self, req: dict) -> tuple[bool, dict]:
        tracer = self.probe.tracer
        if req["kind"] == "page":
            hit_kw, kw_df = self._lookup("tweet", req["keyword"])
            hit_ht, ht_df = self._lookup("hashtag", req["hashtag"])
            hit = hit_kw and hit_ht
            with tracer.span("memo.read"):
                out = {"page": self._page(kw_df, ht_df,
                                          req["page"]).collect()}
            if req["page"] == 0 and out["page"]:
                top = out["page"][0]
                self.top_author = (top["user_id"], top["author_screen_name"])
        else:
            hit, user_df = self._lookup("user", req["author"][1])
            with tracer.span("memo.read"):
                out = {"user": user_df.collect()}
        out.update(self._direct(req))
        return hit, out

    def run_unit(self, i: int) -> None:
        req = self._request(self.warmup + i)
        # entries stay aligned with unit indexes when a request raises
        self.hits.append(False)
        self.requests.append(req)
        self.results.append(None)
        with self.probe.jobs("request"):
            hit, out = self._serve(req)
        self.hits[-1], self.results[-1] = hit, out

    def verify_unit(self, i: int) -> bool:
        return True     # checked together after the loop (``check``)

    # -- checks ------------------------------------------------------
    def check(self) -> list[int]:
        """Indexes of measured requests whose result is wrong."""
        oracle = _Oracle(self.tweets, self.users)
        done = [i for i, r in enumerate(self.results) if r is not None]
        bad = [i for i in done
               if not oracle.matches(self.requests[i], self.results[i])]
        rng = random.Random(self.seed + 11)
        n = max(1, int(len(done) * RECHECK_SHARE))
        for i in sorted(rng.sample(done, min(n, len(done)))):
            if not self._same_without_memo(self.requests[i], self.results[i]):
                bad.append(i)
        return sorted(set(bad))

    def _same_without_memo(self, req: dict, got: dict) -> bool:
        if req["kind"] == "page":
            fresh = self._page(self._build("tweet", req["keyword"]),
                               self._build("hashtag", req["hashtag"]),
                               req["page"]).collect()
            return _canon(_page_key, got["page"]) == _canon(_page_key, fresh)
        fresh = self._direct(req)["tweets"]
        return (got["user"] == self._build("user", req["author"][1]).collect()
                and _canon(_user_key, got["tweets"])
                == _canon(_user_key, fresh))

    # -- metrics -----------------------------------------------------
    def throughput(self, units: int, seconds: float) -> float:
        return units / seconds

    def detail(self, lat_ms: list[float]) -> dict:
        hit = [x for x, h in zip(lat_ms, self.hits) if h]
        miss = [x for x, h in zip(lat_ms, self.hits) if not h]
        return {"hit_p50_ms": H.median(hit), "miss_p50_ms": H.median(miss),
                **H.tail(lat_ms), "hits": len(hit), "misses": len(miss),
                "request_hit_ratio": len(hit) / max(1, len(lat_ms)),
                "lookup_hit_ratio": self.lookup_hits / max(1, self.lookups),
                "evictions": self.evictions}

    def layer_metrics(self, lat_ms: list[float], traced: list[int]) -> dict:
        tr = self.probe.tracer
        goc = tr.durations_ms("memo.get_or_compute")
        build = tr.durations_ms("search.build")
        d = self.detail(lat_ms)
        return {
            "search.build_ms": H.median(build),
            "memo.lookup_ms": H.median(tr.durations_ms("memo.lookup")),
            "memo.materialize_ms": H.median(
                [g - b for g, b in zip(goc, build)]),
            "memo.read_ms": H.median(tr.durations_ms("memo.read")),
            "memo.hit_ratio": d["lookup_hit_ratio"],
            "memo.evictions": self.evictions / max(1, len(lat_ms)),
            "memo.hit_p50_ms": d["hit_p50_ms"],
            "memo.miss_p50_ms": d["miss_p50_ms"],
        }


# -- pure-Python oracle ------------------------------------------------

def _page_key(t) -> tuple:
    """T1 sort key (``app.py:133``) of a row or a tweet dict."""
    return (t["favorite_count"], t["retweet_count"],
            inputs.parse_twitter_date(t["created_at"]))


def _user_key(t) -> tuple:
    """T2 sort key (``cache.py:189``)."""
    return (t["retweet_count"], t["favorite_count"])


def _top(rows: list, key, name: str, k: int) -> list[str]:
    return [r[name] for r in sorted(
        rows, key=lambda r: (tuple(-x for x in key(r)), r[name]))[:k]]


class _Oracle:
    """The search semantics over the generated dicts: keyword is a
    case-insensitive substring, hashtags any-of, keyword OR hashtag."""

    def __init__(self, tweets: list[dict], users: list[dict]):
        self.tweets, self.users = tweets, users
        self.lower = [t["text"].lower() for t in tweets]
        self.tags = [{h["text"] for h in t["entities"]["hashtags"]}
                     for t in tweets]
        self.top_users = _top(users, lambda u: (u["followers_count"],),
                              "screen_name", SIDEBAR_K)
        self.top_tweets = _top(tweets, lambda t: (t["favorite_count"],),
                               "id_str", SIDEBAR_K)
        self._cache: dict = {}

    def _where(self, kw: str | None, tag: str | None,
               user_id: str | None = None) -> list[dict]:
        k = (kw, tag, user_id)
        if k not in self._cache:
            kw_l = kw.lower() if kw else None
            self._cache[k] = [
                t for t, low, tg in zip(self.tweets, self.lower, self.tags)
                if (user_id is None or t["user_id"] == user_id)
                and ((kw_l is not None and kw_l in low) or tag in tg)]
        return self._cache[k]

    def matches(self, req: dict, got: dict) -> bool:
        if req["kind"] == "page":
            return (self._page_ok(req, got["page"])
                    and [r["screen_name"] for r in got["top_users"]]
                    == self.top_users
                    and [r["id_str"] for r in got["top_tweets"]]
                    == self.top_tweets)
        uid, name = req["author"]
        user = self.users[int(uid) - 1000]
        if [(r["id"], r["screen_name"]) for r in got["user"]] != [
                (user["id"], name)] or user["screen_name"] != name:
            return False
        match = {t["id_str"]: _user_key(t) for t in self._where(
            req["keyword"], req["hashtag"], uid)}
        rows = got["tweets"]
        return ([_user_key(r) for r in rows]
                == sorted(match.values(), reverse=True)[:LIMIT]
                and len({r["id_str"] for r in rows}) == len(rows)
                and all(match.get(r["id_str"]) == _user_key(r)
                        for r in rows))

    def _page_ok(self, req: dict, rows: list) -> bool:
        """The page's sort keys are the slice of the union of the two
        top-50 lists; every row is a match with its own sort key and
        author. (Rows tied on the sort key at a top-50 cut may be any
        of the tied tweets.)"""
        kw = {t["id_str"]: _page_key(t)
              for t in self._where(req["keyword"], None)}
        ht = {t["id_str"]: _page_key(t)
              for t in self._where(None, req["hashtag"])}
        union = sorted(sorted(kw.values(), reverse=True)[:LIMIT]
                       + sorted(ht.values(), reverse=True)[:LIMIT],
                       reverse=True)
        start = req["page"] * PAGE_SIZE
        if [_page_key(r) for r in rows] != union[start:start + PAGE_SIZE]:
            return False
        return all(
            (kw.get(r["id_str"]) or ht.get(r["id_str"])) == _page_key(r)
            and r["author_screen_name"] == f"user{int(r['user_id']) - 1000}"
            for r in rows)


def _canon(key, rows: list) -> tuple:
    """A result up to the order of rows that tie on the sort key: the
    key sequence, plus every full row outside the last key group (which
    a limit may cut anywhere among its ties)."""
    keys = [key(r) for r in rows]
    cut = keys[-1] if keys else None
    full = sorted(repr(r) for r, k in zip(rows, keys) if k != cut)
    return keys, full

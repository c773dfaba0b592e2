"""Seeded RecentChanges events for the ``scanner_stream`` workload.

``make_stream(seed, n)`` builds ``n`` Change events plus the two
dimension tables the pipeline joins (``users``, ``revisions``).  Every
predicate of the ``userboxes`` filter passes and rejects a fixed share
of events (``SHARES``), and titles repeat so the dedup drops some
matches.  ``expected_flags`` re-derives the filter's decisions in plain
Python, independently of the Spark code under test.

The shares are not measured from Wikimedia traffic.  They are chosen so
that every predicate both passes and rejects events while about 17% of
events (the product of the shares) reach the revision-text join and
half of those match, so that every stage of the pipeline — source,
filter, both stream-static joins, regex, dedup state and sink — does
work in every micro-batch.
"""

from __future__ import annotations

import random
import re

BASE_TS = 1_700_000_000
REVID_BASE = 50_000_000

#: Share of events that PASS each check of the ``userboxes`` filter.
SHARES = {
    "type": 0.80,  # edit/create vs log/categorize
    "bot": 0.90,  # bot=False
    "namespace": 0.70,  # namespace 2
    "site": 0.80,  # en.wikipedia.org
    "user_known": 0.90,  # user present in the users dimension
    "editcount": 0.50,  # editcount <= 100 among known users
    "revision": 0.95,  # revision text present
    "text_hit": 0.50,  # text matches one of the regexes
}
N_USERS = 400
N_TITLES = 1_500

_HIT_TEXTS = (
    "{{Userbox|color=blue}} hello",
    "I collect USERBOXES and badges",
    "{{User en-3}} {{User de-1}}",
    "some prose then a Userboxen gallery",
    "{{user fr}} and a userbox",
)
_MISS_TEXTS = (
    "Hello world, this is my sandbox",
    "{{Users list}} and {{USER x}}",
    "user box without the joined word",
    "{{Babel|en|de}} plain page",
    "draft article about boxes for users",
)
_REGEXES = (re.compile(r"userbox", re.I), re.compile(r"\{\{[Uu]ser "))


def _user(k: int) -> str:
    if k % 10 == 3:
        return f"198.51.{k // 250}.{k % 250}"
    if k % 10 == 7:
        return f"Name:With:Colons{k}"
    return f"Editor{k}"


def make_stream(seed: int, n: int) -> tuple[list[dict], list[tuple], list[tuple]]:
    """Return (events, users rows, revisions rows) for ``seed``."""
    rnd = random.Random(seed)
    users = []
    for k in range(N_USERS):
        if rnd.random() >= SHARES["user_known"]:
            continue  # absent from the dimension: the race-skip path
        # editcount spans the inclusive max_edits=100 boundary
        edits = 100 if k % 50 == 0 else rnd.randrange(0, 201)
        users.append((_user(k), edits))
    events, revisions = [], []
    for i in range(n):
        revid = REVID_BASE + i
        hit = rnd.random() < SHARES["text_hit"]
        text = rnd.choice(_HIT_TEXTS if hit else _MISS_TEXTS) + f" r{i}"
        if rnd.random() < SHARES["revision"]:
            revisions.append((revid, text))
        site = "en.wikipedia.org" if rnd.random() < SHARES["site"] else rnd.choice(
            ("de.wikipedia.org", "commons.wikimedia.org")
        )
        title = f"User:Box{rnd.randrange(N_TITLES)}"
        ts = BASE_TS + i // 100
        events.append(
            {
                "id": 10_000_000 + i,
                "type": rnd.choice(("edit", "edit", "edit", "create"))
                if rnd.random() < SHARES["type"]
                else rnd.choice(("log", "categorize")),
                "title": title,
                "namespace": 2 if rnd.random() < SHARES["namespace"] else rnd.choice((0, 3, 4)),
                "comment": f"edit {i}",
                "user": _user(rnd.randrange(N_USERS)),
                "bot": rnd.random() >= SHARES["bot"],
                "minor": bool(i % 2),
                "patrolled": bool(i % 3),
                "wiki": site.split(".")[0] + "wiki",
                "server_name": site,
                "server_url": f"https://{site}",
                "server_script_path": "/w",
                "timestamp": ts,
                "length": {"old": 100 + i % 50, "new": 120 + i % 70},
                "revision": {"old": revid - 1, "new": revid},
                "meta": {
                    "domain": site,
                    "partition": 0,
                    "uri": f"https://{site}/wiki/{title}",
                    "offset": i,
                    "topic": "eqiad.mediawiki.recentchange",
                    "request_id": f"req-{seed}-{i}",
                    "schema_uri": "/mediawiki/recentchange/1.0.0",
                    "dt": "2023-11-14T22:%02d:%02dZ" % ((i // 6000) % 60, (i // 100) % 60),
                    "id": f"{seed:08x}-{i:08x}",
                },
            }
        )
    return events, users, revisions


def expected_flags(events: list[dict], users: list[tuple], revisions: list[tuple]) -> dict:
    """title -> set of filenames (``user_revid``, ':' -> '-') of the
    events that pass every ``userboxes`` check; the flag log must hold
    exactly these titles, each with one of these filenames."""
    edits = dict(users)
    texts = dict(revisions)
    out: dict[str, set[str]] = {}
    for e in events:
        if e["type"] not in ("edit", "create") or e["bot"] or e["namespace"] != 2:
            continue
        if e["server_name"] != "en.wikipedia.org":
            continue
        count = edits.get(e["user"])
        if count is None or count > 100:
            continue
        text = texts.get(e["revision"]["new"])
        if text is None or not any(r.search(text) for r in _REGEXES):
            continue
        fname = f"{e['user']}_{e['revision']['new']}".replace(":", "-")
        out.setdefault(e["title"], set()).add(fname)
    return out

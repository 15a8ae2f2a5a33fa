"""Seeded input generator for the crawl-round benchmark.

Everything the engine receives comes from here as parquet files; the engine
never sees the generator. The same ``(workload, seed, scale)`` always yields
byte-identical inputs and the same expected per-round outcome, which the
generator derives from its own reference model of a crawl round (plain
Python, independent of the engine's code):

``frontier``
    A standing dirty-URL frontier over Zipf-skewed hosts, written with
    non-canonical variants (upper-case hosts, ``:80`` ports, trailing
    slashes, unsorted query strings) and duplicate rows, plus a corpus whose
    documents link to standing URLs, to "deep" pages reachable only through
    links, and to dead URLs. Per-host budgets are about a tenth of each
    host's URLs, and some hosts' robots.txt disallow ``/private/`` (with an
    ``Allow`` carve-out). The model replays discover rounds (canonicalize,
    seen filter, robots, per-host top-k, fetch, outlink expansion) and
    records each round's scheduled/fetched/added counts and fetched set.

``recrawl``
    A fixed URL set re-crawled in ``mode="full"`` against two alternating
    corpus versions: 16% of the shared documents differ between versions,
    and 3% of the URLs exist in only one version, so the early rounds add
    and delete and every round updates. The model gives each round's
    added/updated/deleted counts and the permanent tombstones.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

#: rounds the model precomputes; a run may not use more
MAX_ROUNDS = 16

#: seed_rank the engine gives discovered (non-seed) frontier rows
DISCOVERED_SEED_RANK = 1_000_000

#: A crawl round costs seconds of per-job Spark overhead at any input size,
#: so "full" is kept small enough for a whole run (set-up, one warm-up and
#: two timed rounds, read-back, checks) to take about a minute on 4 cores.
SIZES = {
    "full": {
        "frontier": {"hosts": 60, "urls": 4_000, "deep": 1_600, "dup_frac": 0.1},
        "recrawl": {"hosts": 40, "urls": 6_000},
    },
    "tiny": {
        "frontier": {"hosts": 8, "urls": 400, "deep": 160, "dup_frac": 0.1},
        "recrawl": {"hosts": 6, "urls": 300},
    },
}

WORDS = (
    "crawl frontier index shard bloom filter round commit lineage version "
    "snapshot host robots budget schedule fetch diff state merge export "
    "token corpus media image caption table column span offset"
).split()

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", SPAN_TYPE)])
FRONTIER_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("host", pa.string()),
        ("priority", pa.float64()),
        ("discovered_crawl_id", pa.int32()),
        ("seed_rank", pa.int32()),
        ("state", pa.string()),
    ]
)
HOSTS_SCHEMA = pa.schema([("host", pa.string()), ("budget", pa.int32())])
ROBOTS_SCHEMA = pa.schema([("host", pa.string()), ("robots_txt", pa.string())])
FETCHED_SCHEMA = pa.schema([("crawl_id", pa.int32()), ("url_c", pa.string())])

ROBOTS_PRIVATE = "User-agent: *\nDisallow: /private/\nAllow: /private/open/\n"


def source_hash() -> str:
    """Hash of this file: part of the input-cache key, so inputs built by a
    different generator are never reused."""
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


# -- URL helpers --------------------------------------------------------------


def host_name(prefix: str, i: int) -> str:
    return f"{prefix}{i}.example.org"


def variant(url_c: str, rnd: random.Random) -> str:
    """A non-canonical spelling of a canonical ``http://host/path[?q]`` URL."""
    rest = url_c[len("http://"):]
    host, _, tail = rest.partition("/")
    path, _, query = tail.partition("?")
    pick = rnd.randrange(4)
    if pick == 0:
        host = host.upper()
    elif pick == 1:
        host = host + ":80"
    elif pick == 2:
        path = path + "/"
    if query and "&" in query and rnd.random() < 0.7:
        query = "&".join(reversed(query.split("&")))
    return f"http://{host}/{path}" + (f"?{query}" if query else "")


def url_path(url_c: str) -> str:
    rest = url_c[len("http://"):]
    return "/" + rest.partition("/")[2]


def url_host(url_c: str) -> str:
    return url_c[len("http://"):].partition("/")[0]


def robots_blocked(path: str) -> bool:
    """ROBOTS_PRIVATE evaluated with longest-match-wins."""
    return path.startswith("/private/") and not path.startswith("/private/open/")


def zipf_sizes(n_items: int, n_hosts: int, rnd: random.Random) -> list[int]:
    """Items per host, Zipf(1)-skewed with every host non-empty."""
    weights = [1.0 / (k + 1) for k in range(n_hosts)]
    total = sum(weights)
    sizes = [max(1, int(n_items * w / total)) for w in weights]
    sizes[0] += n_items - sum(sizes)
    rnd.shuffle(sizes)
    return sizes


def make_text(rnd: random.Random, n: int) -> str:
    return " ".join(rnd.choice(WORDS) for _ in range(n))


def write_table(path: str, rows: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pydict(rows, schema=schema), path)


# -- frontier workload --------------------------------------------------------


def build_frontier(seed: int, scale: str) -> dict:
    """Frontier inputs and the model's expected rounds, all in memory."""
    cfg = SIZES[scale]["frontier"]
    rnd = random.Random(f"frontier-{seed}")
    hosts = [host_name("h", i) for i in range(cfg["hosts"])]
    private_hosts = {h for h in hosts if rnd.random() < 0.25}

    def urls_for(n: int, kind: str) -> list[str]:
        out = []
        for h, size in zip(hosts, zipf_sizes(n, len(hosts), rnd)):
            for j in range(size):
                r = rnd.random()
                if h in private_hosts and r < 0.08:
                    sub = "private/open" if r < 0.02 else "private"
                    out.append(f"http://{h}/{sub}/{kind}{j}")
                elif r < 0.3:
                    a, b = rnd.randrange(100), rnd.randrange(100)
                    out.append(f"http://{h}/{kind}/{j}?a={a}&b={b}")
                else:
                    out.append(f"http://{h}/{kind}/{j}")
        return out

    standing = urls_for(cfg["urls"], "p")
    deep = urls_for(cfg["deep"], "d")
    budgets = {}
    per_host = defaultdict(int)
    for u in standing:
        per_host[url_host(u)] += 1
    for h in hosts:
        budgets[h] = max(2, per_host[h] // 10)

    # frontier rows: every standing URL once (some spelled non-canonically),
    # plus duplicate rows of a random subset under other spellings
    rows = []
    for i, u in enumerate(standing):
        spelled = variant(u, rnd) if rnd.random() < 0.5 else u
        rows.append((spelled, round(rnd.random() * 0.6, 3), i))
    for _ in range(int(len(standing) * cfg["dup_frac"])):
        k = rnd.randrange(len(standing))
        rows.append((variant(standing[k], rnd), round(rnd.random() * 0.6, 3), len(rows)))
    rnd.shuffle(rows)

    # corpus: every standing and deep URL is a live document; links point to
    # standing URLs, deep URLs and dead URLs (404s the budget is wasted on)
    by_host_all = defaultdict(list)
    for u in standing + deep:
        by_host_all[url_host(u)].append(u)
    everything = standing + deep
    docs = {}
    links = {}
    for u in everything:
        h = url_host(u)
        targets = []
        for _ in range(rnd.randrange(6)):
            r = rnd.random()
            if r < 0.05:
                targets.append(f"http://{h if rnd.random() < 0.5 else rnd.choice(hosts)}/gone/{rnd.randrange(40)}")
            elif r < 0.65:
                targets.append(rnd.choice(by_host_all[h]))
            else:
                targets.append(rnd.choice(everything))
        links[u] = targets
        spans = [{"kind": "title", "text": make_text(rnd, 4), "media_ref": None, "offset": 0}]
        for _ in range(rnd.randrange(1, 4)):
            spans.append({"kind": "text", "text": make_text(rnd, 12), "media_ref": None, "offset": len(spans)})
        if rnd.random() < 0.5:
            spans.append({"kind": "image", "text": None, "media_ref": f"media://{h}/{rnd.randrange(10**6)}.jpg", "offset": len(spans)})
        for t in targets:
            spans.append({"kind": "link", "text": None, "media_ref": variant(t, rnd), "offset": len(spans)})
        docs[u] = spans

    expected = model_frontier(rows, budgets, private_hosts, links)
    return {
        "rows": rows,
        "hosts": hosts,
        "budgets": budgets,
        "private_hosts": private_hosts,
        "docs": docs,
        "expected": expected,
    }


def canonical_of_spelling(spelled: str) -> str:
    """Undo :func:`variant` (the generator knows its own spellings)."""
    rest = spelled[len("http://"):]
    host, _, tail = rest.partition("/")
    host = host.lower()
    if host.endswith(":80"):
        host = host[:-3]
    path, _, query = tail.partition("?")
    path = path.rstrip("/")
    if query and "&" in query:
        query = "&".join(sorted(query.split("&")))
    return f"http://{host}/{path}" + (f"?{query}" if query else "")


def model_frontier(rows, budgets, private_hosts, links) -> list[dict]:
    """Replay discover rounds: round r schedules the standing frontier plus
    round r-1's discoveries, minus every URL fetched so far."""
    standing = {}
    for spelled, prio, rank in rows:
        u = canonical_of_spelling(spelled)
        cur = standing.get(u)
        standing[u] = (
            (rank, prio, 0) if cur is None else (min(cur[0], rank), max(cur[1], prio), 0)
        )
    seen: set[str] = set()
    discovered: dict[str, tuple] = {}
    out = []
    for r in range(MAX_ROUNDS):
        cand = dict(standing)
        for u, (rank, prio, dcid) in discovered.items():
            cur = cand.get(u)
            cand[u] = (
                (rank, prio, dcid)
                if cur is None
                else (min(cur[0], rank), max(cur[1], prio), min(cur[2], dcid))
            )
        per_host = defaultdict(list)
        for u, (rank, prio, _) in cand.items():
            if u in seen:
                continue
            h = url_host(u)
            if h not in budgets:
                continue
            if h in private_hosts and robots_blocked(url_path(u)):
                continue
            per_host[h].append((-prio, rank, u))
        scheduled = []
        for h, items in per_host.items():
            items.sort()
            scheduled.extend(u for _, _, u in items[: budgets[h]])
        fetched = sorted(u for u in scheduled if u in links)
        seen.update(fetched)
        refs = defaultdict(int)
        for u in fetched:
            for t in links[u]:
                if t != u:
                    refs[t] += 1
        discovered = {
            t: (DISCOVERED_SEED_RANK, 1.0 - 1.0 / (1.0 + n), r) for t, n in refs.items()
        }
        out.append(
            {
                "scheduled": len(scheduled),
                "fetched": len(fetched),
                "added": len(fetched),
                "updated": 0,
                "deleted": 0,
                "fetched_urls": fetched,
                "discovered": len(discovered),
            }
        )
    return out


def write_frontier(data: dict, out: str) -> dict:
    rows = data["rows"]
    write_standing(out, rows)
    write_docs(os.path.join(out, "corpus.parquet"), data["docs"])
    write_hosts(out, data["hosts"], data["budgets"], data["private_hosts"])
    fetched_rows = [
        (r, u) for r, e in enumerate(data["expected"]) for u in e["fetched_urls"]
    ]
    write_table(
        os.path.join(out, "expected_fetched.parquet"),
        {"crawl_id": [r for r, _ in fetched_rows], "url_c": [u for _, u in fetched_rows]},
        FETCHED_SCHEMA,
    )
    return {
        "standing_rows": len(rows),
        "docs": len(data["docs"]),
        "rounds": [
            {k: v for k, v in e.items() if k != "fetched_urls"} for e in data["expected"]
        ],
    }


# -- recrawl workload ---------------------------------------------------------


def build_recrawl(seed: int, scale: str) -> dict:
    cfg = SIZES[scale]["recrawl"]
    rnd = random.Random(f"recrawl-{seed}")
    hosts = [host_name("r", i) for i in range(cfg["hosts"])]
    urls = []
    for h, size in zip(hosts, zipf_sizes(cfg["urls"], len(hosts), rnd)):
        urls.extend(f"http://{h}/doc/{j}" for j in range(size))
    only_a, only_b, changed = set(), set(), set()
    for u in urls:
        r = rnd.random()
        if r < 0.03:
            only_a.add(u)
        elif r < 0.06:
            only_b.add(u)
        elif r < 0.06 + 0.16 * 0.94:
            changed.add(u)
    version_a, version_b = {}, {}
    for u in urls:
        spans = [{"kind": "title", "text": make_text(rnd, 5), "media_ref": None, "offset": 0}]
        for _ in range(rnd.randrange(2, 6)):
            spans.append({"kind": "text", "text": make_text(rnd, 16), "media_ref": None, "offset": len(spans)})
        if rnd.random() < 0.6:
            spans.append({"kind": "image", "text": None, "media_ref": f"media://{url_host(u)}/{rnd.randrange(10**6)}.png", "offset": len(spans)})
        if u not in only_b:
            version_a[u] = spans
        if u not in only_a:
            if u in changed:
                k = rnd.randrange(1, len(spans))
                spans = [dict(s) for s in spans]
                spans[k]["text"] = (spans[k]["text"] or "") + " " + make_text(rnd, 3)
            version_b[u] = spans
    budgets = defaultdict(int)
    for u in urls:
        budgets[url_host(u)] += 1
    rows = [(variant(u, rnd) if rnd.random() < 0.3 else u, 1.0, i) for i, u in enumerate(urls)]
    return {
        "rows": rows,
        "hosts": hosts,
        "budgets": dict(budgets),
        "versions": (version_a, version_b),
        "expected": model_recrawl(urls, version_a, version_b),
    }


def model_recrawl(urls, version_a, version_b) -> dict:
    """Full-snapshot rounds over alternating versions with permanent
    tombstones: a deleted document never reappears."""
    state: dict[str, tuple] = {}  # doc -> (spans key, deleted)
    rounds = []
    tombstones_by_round = []
    for r in range(MAX_ROUNDS):
        live = version_a if r % 2 == 0 else version_b
        added = updated = deleted = 0
        for u in urls:
            prev = state.get(u)
            cur = live.get(u)
            if prev is None:
                if cur is not None:
                    state[u] = (cur, False)
                    added += 1
            elif prev[1]:
                continue
            elif cur is None:
                state[u] = (prev[0], True)
                deleted += 1
            elif cur != prev[0]:
                state[u] = (cur, False)
                updated += 1
        tombstones_by_round.append(sorted(u for u, (_, d) in state.items() if d))
        rounds.append(
            {
                "scheduled": len(urls),
                "fetched": len(live),
                "added": added,
                "updated": updated,
                "deleted": deleted,
            }
        )
    return {"rounds": rounds, "tombstones": tombstones_by_round}


def write_recrawl(data: dict, out: str) -> dict:
    rows = data["rows"]
    write_standing(out, rows)
    for name, version in zip(("version_a", "version_b"), data["versions"]):
        write_docs(os.path.join(out, f"{name}.parquet"), version)
    write_hosts(out, data["hosts"], data["budgets"], set())
    tomb = data["expected"]["tombstones"]
    write_table(
        os.path.join(out, "tombstones.parquet"),
        {
            "crawl_id": [r for r, us in enumerate(tomb) for _ in us],
            "url_c": [u for us in tomb for u in us],
        },
        FETCHED_SCHEMA,
    )
    return {
        "standing_rows": len(rows),
        "docs": len(data["versions"][0]),
        "rounds": data["expected"]["rounds"],
    }


# -- shared writers -----------------------------------------------------------


def write_standing(out: str, rows: list[tuple]) -> None:
    """(spelled url, priority, seed_rank) rows as pending FRONTIER rows."""
    write_table(
        os.path.join(out, "standing.parquet"),
        {
            "url": [u for u, _, _ in rows],
            "host": [url_host(canonical_of_spelling(u)) for u, _, _ in rows],
            "priority": [p for _, p, _ in rows],
            "discovered_crawl_id": [0] * len(rows),
            "seed_rank": [k for _, _, k in rows],
            "state": ["pending"] * len(rows),
        },
        FRONTIER_SCHEMA,
    )


def write_docs(path: str, docs: dict) -> None:
    ids = sorted(docs)
    write_table(path, {"doc_id": ids, "spans": [docs[u] for u in ids]}, DOCS_SCHEMA)


def write_hosts(out: str, hosts, budgets, private_hosts) -> None:
    write_table(
        os.path.join(out, "hosts.parquet"),
        {"host": list(hosts), "budget": [budgets.get(h, 1) for h in hosts]},
        HOSTS_SCHEMA,
    )
    write_table(
        os.path.join(out, "robots.parquet"),
        {
            "host": list(hosts),
            "robots_txt": [
                ROBOTS_PRIVATE if h in private_hosts else "User-agent: *\nCrawl-delay: 0\n"
                for h in hosts
            ],
        },
        ROBOTS_SCHEMA,
    )


BUILDERS = {
    "frontier": (build_frontier, write_frontier),
    "recrawl": (build_recrawl, write_recrawl),
}


def ensure_inputs(workload: str, seed: int, scale: str, cache_root: str) -> tuple[str, dict]:
    """Build (or reuse) the inputs for one workload and seed. Returns the
    input directory and its meta dict (expected rounds included). The cache
    key holds the generator's source hash, so a changed generator never
    reads inputs another version wrote."""
    key = f"{workload}-{scale}-s{seed}-{source_hash()}"
    out = os.path.join(cache_root, key)
    meta_path = os.path.join(out, "meta.json")
    if not os.path.exists(meta_path):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build, write = BUILDERS[workload]
        meta = write(build(seed, scale), tmp)
        meta.update({"workload": workload, "seed": seed, "scale": scale})
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    with open(meta_path) as fh:
        return out, json.load(fh)

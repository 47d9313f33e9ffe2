"""Crawl-order + URL-seen-set parity vs reference semantics (north rule).

An independent in-memory simulator reimplements Crawlee's RequestQueue
contract exactly as documented in the reference source — uniqueKey
normalization (request.ts:418-440), first-wins dedup (request-queue.ts:
384-396), signed orderNo FIFO/forefront ordering (request-queue.ts:661-667),
ascending-head claiming (request-queue.ts:224), breadth-first link discovery
— and the Spark engine must produce the identical per-round claim order and
the identical final URL-seen set on the same seed list + politeness budget.

The simulator shares NO code with the engine except the pure-Python
normalize kernel (which is itself pinned by golden vectors), so agreement is
two independent derivations of the reference contract."""

from collections import OrderedDict

import pytest
from pyspark.sql import functions as F

from crawlee_spark.functions.keying import normalize_url_py, request_id_py
from crawlee_spark.operators.engine import CrawlEngine, CrawlOptions
from crawlee_spark.operators.enqueue import EnqueueOptions
from crawlee_spark.operators.frontier import FrontierStore
from crawlee_spark.operators.scheduler import PolitenessPolicy

# deterministic 3-host page graph: each page links to two others
HOSTS = ["a.example.com", "b.example.com", "c.example.com"]
N_PER_HOST = 6


def page_url(host_i: int, page_i: int) -> str:
    return f"https://{HOSTS[host_i]}/p{page_i}"


def links_of(host_i: int, page_i: int) -> list[str]:
    # same-host next page + cross-host page (dropped by same-hostname gate)
    return [
        page_url(host_i, (page_i + 1) % N_PER_HOST),
        page_url((host_i + 1) % len(HOSTS), page_i),
    ]


def make_pages(spark):
    rows = []
    for h in range(len(HOSTS)):
        for p in range(N_PER_HOST):
            anchors = "".join(f'<a href="{u}">x</a>' for u in links_of(h, p))
            html = f"<html><body><p>page {h}-{p}</p>{anchors}</body></html>"
            rows.append((page_url(h, p), html.encode()))
    return spark.createDataFrame(rows, "url string, html binary")


SEEDS = [page_url(0, 0), page_url(1, 0), page_url(2, 3)]
PER_HOST_BUDGET = 1  # one fetch per registrable domain per round
MAX_CONCURRENCY = 2  # global pool cap per round


def simulate():
    """Reference-semantics simulator: returns (per-round claim lists, seen set)."""
    seen: OrderedDict[str, dict] = OrderedDict()  # request_id → row
    seq = 0

    def enqueue(urls):
        nonlocal seq
        for u in urls:
            key = normalize_url_py(u) or u
            rid = request_id_py(key)
            if rid in seen:
                continue  # wasAlreadyPresent: not updated
            seq += 1
            seen[rid] = {"url": u, "order_no": seq, "handled": False}

    enqueue(SEEDS)
    trace = []
    for _ in range(100):
        pending = sorted(
            (r for r in seen.values() if not r["handled"]), key=lambda r: r["order_no"]
        )
        # politeness: ≤ budget per registrable domain, in head order
        per_host: dict[str, int] = {}
        claimed = []
        for r in pending:
            host = r["url"].split("/")[2]
            domain = ".".join(host.split(".")[-2:])
            if per_host.get(domain, 0) >= PER_HOST_BUDGET:
                continue
            per_host[domain] = per_host.get(domain, 0) + 1
            claimed.append(r)
        claimed = claimed[:MAX_CONCURRENCY]
        if not claimed:
            break
        trace.append([r["url"] for r in claimed])
        discovered = []
        for r in claimed:
            r["handled"] = True
            host_i = HOSTS.index(r["url"].split("/")[2])
            page_i = int(r["url"].rsplit("p", 1)[1])
            for link in links_of(host_i, page_i):
                if link.split("/")[2] == r["url"].split("/")[2]:  # same-hostname gate
                    discovered.append(link)
        enqueue(discovered)
    return trace, set(seen)


def run_engine(spark, tmp_store_dir, compact_every):
    store = FrontierStore(spark, tmp_store_dir, num_partitions=4, compact_every=compact_every)
    engine = CrawlEngine(
        spark,
        store,
        make_pages(spark),
        policy=PolitenessPolicy(
            max_concurrency=MAX_CONCURRENCY, per_host_cap=PER_HOST_BUDGET, salt_buckets=4
        ),
        options=CrawlOptions(enqueue=EnqueueOptions(strategy="same-hostname"), max_rounds=100),
    )
    engine.add_seeds(spark.createDataFrame([(u,) for u in SEEDS], "url string"))
    engine.run(None)
    # claim order per round from the outcomes log (one attempt row per claim)
    trace_rows = engine.outcomes().orderBy("round_id", "attempt").collect()
    by_round: dict[int, list[str]] = {}
    frontier = store.read()
    order = {r["request_id"]: r["order_no"] for r in frontier.collect()}
    for r in trace_rows:
        by_round.setdefault(r["round_id"], []).append((order[r["request_id"]], r["url"]))
    trace = [[u for _, u in sorted(v)] for _, v in sorted(by_round.items())]
    seen_ids = {r["request_id"] for r in frontier.collect()}
    return trace, seen_ids


# 8 is the store default; 2 compacts each round's lease + outcome delta
# pair, so the trace crosses a base rewrite after every round
@pytest.mark.parametrize("compact_every", [8, 2])
def test_crawl_order_and_seen_set_parity(spark, tmp_store_dir, compact_every):
    expected_trace, expected_seen = simulate()
    got_trace, got_seen = run_engine(spark, tmp_store_dir, compact_every)
    assert got_seen == expected_seen  # identical URL-seen set (request ids)
    assert got_trace == expected_trace  # identical claim order, every round


# ---------------------------------------------------------------------------
# round-2: retry-reclaim ordering parity + forefront LIFO parity
# ---------------------------------------------------------------------------

FAILING = page_url(0, 0)  # host a's p0 always returns 503
MAX_RETRIES = 2


def make_pages_with_failure(spark):
    rows = []
    for h in range(len(HOSTS)):
        for p in range(N_PER_HOST):
            anchors = "".join(f'<a href="{u}">x</a>' for u in links_of(h, p))
            html = f"<html><body><p>page {h}-{p}</p>{anchors}</body></html>"
            status = 503 if page_url(h, p) == FAILING else 200
            rows.append((page_url(h, p), html.encode(), status))
    return spark.createDataFrame(rows, "url string, html binary, status_code int")


def simulate_with_retries():
    """Reference retry semantics: a 503 claim is reclaimed to the BACK of the
    FIFO with a fresh orderNo (request-queue.ts:661-667) — after the round's
    fresh links (the engine assigns link order first, then reclaim order) —
    until retryCount exceeds maxRetries, then it is handled-failed."""
    seen: OrderedDict[str, dict] = OrderedDict()
    seq = 0

    def enqueue(urls):
        nonlocal seq
        for u in urls:
            key = normalize_url_py(u) or u
            rid = request_id_py(key)
            if rid in seen:
                continue
            seq += 1
            seen[rid] = {"url": u, "order_no": seq, "handled": False, "retries": 0}

    enqueue(SEEDS)
    trace = []
    for _ in range(100):
        pending = sorted(
            (r for r in seen.values() if not r["handled"]), key=lambda r: r["order_no"]
        )
        per_host: dict[str, int] = {}
        claimed = []
        for r in pending:
            host = r["url"].split("/")[2]
            domain = ".".join(host.split(".")[-2:])
            if per_host.get(domain, 0) >= PER_HOST_BUDGET:
                continue
            per_host[domain] = per_host.get(domain, 0) + 1
            claimed.append(r)
        claimed = claimed[:MAX_CONCURRENCY]
        if not claimed:
            break
        trace.append([r["url"] for r in claimed])
        discovered = []
        retries = []
        for r in claimed:
            if r["url"] == FAILING:
                if r["retries"] < MAX_RETRIES:
                    r["retries"] += 1
                    retries.append(r)  # reclaim: back of FIFO, after fresh links
                else:
                    r["handled"] = True  # final fail
                continue  # a failing fetch discovers nothing
            r["handled"] = True
            host_i = HOSTS.index(r["url"].split("/")[2])
            page_i = int(r["url"].rsplit("p", 1)[1])
            for link in links_of(host_i, page_i):
                if link.split("/")[2] == r["url"].split("/")[2]:
                    discovered.append(link)
        enqueue(discovered)
        for r in retries:
            seq += 1
            r["order_no"] = seq
    return trace, set(seen)


def test_retry_reclaim_order_parity(spark, tmp_store_dir):
    """A 503 page is re-claimed at the back of the FIFO exactly when the
    independent simulator says so, and the final seen set matches."""
    expected_trace, expected_seen = simulate_with_retries()
    store = FrontierStore(spark, tmp_store_dir, num_partitions=4)
    engine = CrawlEngine(
        spark,
        store,
        make_pages_with_failure(spark),
        policy=PolitenessPolicy(
            max_concurrency=MAX_CONCURRENCY, per_host_cap=PER_HOST_BUDGET, salt_buckets=4
        ),
        options=CrawlOptions(
            enqueue=EnqueueOptions(strategy="same-hostname"),
            max_rounds=100,
            max_request_retries=MAX_RETRIES,
        ),
    )
    engine.add_seeds(spark.createDataFrame([(u,) for u in SEEDS], "url string"))
    engine.run(None)
    rows = engine.outcomes().select("round_id", "url", "attempt").collect()
    by_round: dict[int, list[str]] = {}
    for r in sorted(rows, key=lambda r: (r["round_id"], r["url"])):
        by_round.setdefault(r["round_id"], []).append(r["url"])
    got_trace = [sorted(v) for _, v in sorted(by_round.items())]
    assert got_trace == [sorted(v) for v in expected_trace]
    got_seen = {r["request_id"] for r in store.read().collect()}
    assert got_seen == expected_seen
    # the failing URL was attempted exactly 1 + MAX_RETRIES times
    assert sum(1 for r in rows if r["url"] == FAILING) == 1 + MAX_RETRIES


def test_forefront_lifo_parity(spark, tmp_store_dir):
    """Forefront seeds drain LIFO before any FIFO row (negative orderNo,
    request-queue.ts:661-667 + head order request-queue.ts:224)."""
    fifo = [page_url(0, 1), page_url(1, 1)]
    fore = [page_url(2, 0), page_url(2, 1)]  # added forefront, same host
    store = FrontierStore(spark, tmp_store_dir, num_partitions=4)
    engine = CrawlEngine(
        spark,
        store,
        make_pages(spark),
        policy=PolitenessPolicy(max_concurrency=1, per_host_cap=1, salt_buckets=4),
        options=CrawlOptions(enqueue=EnqueueOptions(strategy="same-hostname"), max_rounds=4),
    )
    engine.add_seeds(spark.createDataFrame([(u,) for u in fifo], "url string"))
    engine.add_seeds(spark.createDataFrame([(u,) for u in fore], "url string"), forefront=True)
    for _ in range(4):
        engine.run_round()
    rows = engine.outcomes().orderBy("round_id").collect()
    first_four = [r["url"] for r in rows[:4]]
    # LIFO among forefront (later forefront first), then FIFO order
    assert first_four == [fore[1], fore[0], fifo[0], fifo[1]]

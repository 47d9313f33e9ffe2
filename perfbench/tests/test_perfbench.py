"""Tests of the benchmark's own code: generators, event-log parser, names.

    python3 -m pytest perfbench/tests -q   # from the root of a checkout

The parser tests read a small recorded log (``data/``, made by
``record_sample.py``): one traced ``FrontierStore.add_requests`` of 600
URLs, 300 of them distinct.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import eventlog  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from tracing import Span  # noqa: E402

SMALL_CRAWL = gen.CrawlShape(n_pages=300, n_batches=3, batch_size=500)
SMALL_DOCS = gen.CorpusShape(n_docs=400)

GENERATORS = {
    "crawl": lambda seed: gen.crawl_corpus(seed, SMALL_CRAWL),
    "documents": lambda seed: gen.documents(seed, SMALL_DOCS),
}


def _h(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()


# -- generators ---------------------------------------------------------------


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_generator_is_deterministic_per_seed_and_differs_across_seeds(name):
    make = GENERATORS[name]
    assert _h(make(7)) == _h(make(7))
    assert _h(make(7)) != _h(make(8))


def test_generated_sizes_do_not_depend_on_the_seed():
    a, b = (gen.crawl_corpus(s, SMALL_CRAWL) for s in (1, 2))
    n_orphans = SMALL_CRAWL.n_batches * SMALL_CRAWL.batch_new
    assert len(a["pages"]) == len(b["pages"]) == SMALL_CRAWL.n_pages + n_orphans
    assert [len(x) for x in a["batches"]] == [len(x) for x in b["batches"]]
    assert a["facts"]["batch_new"] == b["facts"]["batch_new"]
    a, b = (gen.documents(s, SMALL_DOCS) for s in (1, 2))
    assert len(a["rows"]) == len(b["rows"]) == SMALL_DOCS.n_docs


def test_batches_plant_the_new_count_under_reference_normalization():
    from crawlee_spark.functions.keying import normalize_url_py

    c = gen.crawl_corpus(3, SMALL_CRAWL)
    # every URL a page links to, plus the seeds, is known before a batch
    seen = {normalize_url_py(u) for u in c["seeds"]}
    seen |= {normalize_url_py(r[0]) for r in c["pages"][: SMALL_CRAWL.n_pages]}
    for batch in c["batches"]:
        keys = [normalize_url_py(u) for u in batch]
        assert len(batch) == SMALL_CRAWL.batch_size
        assert len({k for k in keys if k not in seen}) == c["facts"]["batch_new"]
        assert len({k for k in keys if k in seen}) > 0
        assert len(set(keys)) < len(keys)  # in-batch duplicates and variants
        seen.update(keys)


def test_crawl_corpus_plants_faults_redirects_and_robots_rejections():
    c = gen.crawl_corpus(4, gen.CrawlShape(n_pages=2_000))
    statuses = {r[2] for r in c["pages"]}
    assert {200, 403, 404, 503} <= statuses
    assert any(r[0] != r[4] for r in c["pages"])  # redirects
    robots_hosts = {h for h, _ in c["robots"]}
    assert any("/private/" in u and u.split("/")[2] in robots_hosts for u in c["seeds"])


def test_documents_plant_exact_and_near_duplicates():
    rows = gen.documents(5, SMALL_DOCS)["rows"]
    texts = [r[1] for r in rows]
    assert len(set(texts)) < len(texts)  # exact copies
    words = [t.split() for t in texts]
    near = sum(
        1
        for a, b in zip(words, words[1:])
        if len(a) == len(b) and 0 < sum(x != y for x, y in zip(a, b)) <= 1
    )
    assert near > 0


# -- event-log parser -----------------------------------------------------------


@pytest.fixture(scope="module")
def sample():
    log = eventlog.parse([os.path.join(HERE, "data", "sample_events.jsonl")])
    with open(os.path.join(HERE, "data", "sample_spans.json")) as f:
        d = json.load(f)
    spans = [Span(**s) for s in d["spans"]]
    wall = spans[0].end - spans[0].start
    return log, spans, d["facts"], layers.per_layer(spans, log, [0], {"wall_s": wall})


def test_every_job_of_the_sample_is_attributed(sample):
    log, spans, _, m = sample
    with open(os.path.join(HERE, "data", "sample_events.jsonl")) as f:
        starts = sum(1 for line in f if json.loads(line)["Event"] == "SparkListenerJobStart")
    assert m["spark.jobs"] == starts == len(log.jobs) > 0
    assert m["spark.unattributed_jobs"] == 0
    assert {j.group for j in log.jobs.values()} <= {f"pb{s.id}" for s in spans}


def test_udf_rows_match_the_recorded_input(sample):
    _, _, facts, m = sample
    assert m["keying.rows"] == facts["offered"]  # every candidate is keyed
    assert m["psl.rows"] == facts["distinct"]  # domains only for the survivors
    assert m["keying.arrow_nodes"] == 1
    assert m["keying.python_s"] > 0 and m["psl.python_s"] > 0
    assert m["keying.bytes_to_python"] > 0


def test_commit_bytes_match_the_snapshot_on_disk(sample):
    _, _, facts, m = sample
    assert m["frontier.commit.bytes_written"] == facts["snapshot_bytes"]


def test_span_seconds_and_self_time(sample):
    _, spans, _, m = sample
    by = {s.name: s for s in spans}
    add, fresh, commit = by["frontier.add_requests"], by["frontier.prepare_fresh"], by["frontier.commit"]
    assert m["frontier.add_requests.s"] == pytest.approx(add.end - add.start)
    kids = layers._union_len([(fresh.start, fresh.end), (commit.start, commit.end)])
    assert m["frontier.add_requests.self_s"] == pytest.approx(add.end - add.start - kids)
    assert m["spark.jobs"] > 0 and m["trace.wall_s"] == pytest.approx(by["bench.timed"].end - by["bench.timed"].start)


def test_union_len():
    assert layers._union_len([(0, 2), (1, 3), (5, 6)]) == 4
    assert layers._union_len([]) == 0


def test_find_log_reads_rolling_files_in_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for n in (10, 2, 1):
        (app / f"events_{n}_local-1").write_text("")
    (app / "appstatus_local-1").write_text("")
    assert [os.path.basename(p) for p in eventlog.find_log(str(tmp_path))] == [
        "events_1_local-1", "events_2_local-1", "events_10_local-1",
    ]


# -- metric names -----------------------------------------------------------------

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_metric_names_and_units_are_well_formed():
    for name, unit in {**run.END_TO_END, **layers.METRICS}.items():
        assert NAME.fullmatch(name), name
        assert UNIT.fullmatch(unit), unit


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.METRICS
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)

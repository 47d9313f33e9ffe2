"""The benchmark's workloads: set-up, timed cycles, output checks.

Each workload is a closed loop with one client (the driver process): the
next call is issued only after the previous one returned. ``setup`` builds a
complete, independent state under its own directory and may run several
times; the timed cycles use the last state built. A workload records the
duration of each timed operation in ``op_s`` and the work each cycle did;
``check`` runs after the timed section and returns ``(name, ok, detail)``.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

import gen


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _digest(df) -> str:
    """Order-free content digest: row count and the sum of per-row crc32."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.concat_ws("|", *[F.col(c).cast("string") for c in df.columns]))).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


class Crawl:
    """Crawl cycles over a seeded page corpus: one ``run_round``, then one
    ``add_seeds`` batch.

    A 2,000-claim round has a large fixed cost (tens of Spark jobs,
    checkpoints, two delta commits, merge-on-read frontier reads) plus
    per-page extraction, robots and link keying. ``compact_every=2`` makes
    the round's second delta commit a compaction, so every round has the
    same shape. The ``add_seeds`` batch is the enqueue path at bulk size:
    robots gate, keying, in-batch dedup, the anti-join against the frontier
    with 50% overlap, and a full-snapshot commit.
    """

    name = "crawl"
    claims = 2_000
    setup_reps = 3
    min_cycles = 2

    def __init__(self, spark, seed: int, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.shape = gen.CrawlShape()
        self.states: list[tuple] = []
        self.facts_: dict = {}
        self.op_s: list[float] = []
        self.rounds: list[dict] = []
        self.stats: dict | None = None
        self.seeded: list[str] = []

    def setup(self, rep_dir: str) -> None:
        """Generate and write the inputs, build the engine, add the seeds."""
        from crawlee_spark.operators.engine import CrawlEngine, CrawlOptions
        from crawlee_spark.operators.enqueue import EnqueueOptions
        from crawlee_spark.operators.frontier import FrontierStore
        from crawlee_spark.operators.scheduler import PolitenessPolicy

        corpus = gen.crawl_corpus(self.seed, self.shape)
        self.facts_ = corpus["facts"]
        paths = gen.write_crawl_corpus(corpus, rep_dir)
        store = FrontierStore(self.spark, os.path.join(rep_dir, "run"), compact_every=2)
        engine = CrawlEngine(
            self.spark,
            store,
            self.spark.read.parquet(paths["pages"]),
            robots=self.spark.read.parquet(paths["robots"]),
            # 40 domains x 100 per domain > 2,000: the global cap binds,
            # and the hot domain (30% of pages) hits its per-domain budget
            policy=PolitenessPolicy(max_concurrency=self.claims, per_host_cap=100),
            options=CrawlOptions(enqueue=EnqueueOptions(strategy="same-domain")),
        )
        engine.add_seeds(self.spark.read.parquet(paths["seeds"]))
        self.states.append((engine, store, paths))

    def warm(self) -> None:
        """One round on the first state: the round's code paths are warm
        before the timed cycles (the set-ups already ran ``add_seeds``)."""
        self.states[0][0].run_round()

    def ready(self) -> None:
        """Digests of the seeded frontiers the warm-up did not touch, before
        the timed cycles start: the same seed must give the same frontier."""
        self.seeded = [_digest(store.read(["order_no", "url"])) for _, store, _ in self.states[1:]]

    def _cycle(self, engine, store, paths, b: int) -> dict:
        t = time.perf_counter()
        m = engine.run_round()
        round_s = time.perf_counter() - t
        if m.get("done"):
            raise RuntimeError("frontier drained inside the timed section")
        before = store.info()["totalRequestCount"]
        engine.add_seeds(self.spark.read.parquet(paths[f"batch{b}"]))
        return {**m, "round_s": round_s, "added": store.info()["totalRequestCount"] - before}

    def cycle(self) -> int:
        b = len(self.rounds)
        if b >= self.shape.n_batches:
            raise RuntimeError("ran out of generated add_seeds batches")
        m = self._cycle(*self.states[-1], b)
        self.op_s.append(m["round_s"])
        self.rounds.append(m)
        return m["claimed"]

    def finish(self) -> None:
        engine, _, _ = self.states[-1]
        self.stats = engine.final_statistics()

    def rate(self, items: int, wall: float) -> float:
        """Pages claimed per second of the whole timed section."""
        return items / wall

    def check(self) -> list[tuple[str, bool, str]]:
        from crawlee_spark.functions.html_text import html_to_text_py
        from crawlee_spark.functions.keying import normalize_url_py, request_id_py

        engine, store, paths = self.states[-1]
        same = len(self.seeded) > 1 and len(set(self.seeded)) == 1
        out = [("same seed, same seeded frontier", same, " ".join(self.seeded))]
        added = [m["added"] for m in self.rounds]
        planted = [self.facts_["batch_new"]] * len(added)
        out.append(("add_seeds adds the planted new URLs", added == planted, f"{added} vs {planted}"))

        # deterministic ~2% sample of the results, by a hash of request_id
        sample = (
            engine.results()
            .filter(F.crc32("request_id") % 50 == 0)
            .select("request_id", "url", "text")
            .collect()
        )
        wanted = self.spark.createDataFrame([(r["url"],) for r in sample] or [("",)], "url string")
        html = {
            r["url"]: bytes(r["html"])
            for r in self.spark.read.parquet(paths["pages"]).join(wanted, "url").select("url", "html").collect()
        }
        bad_text = [r["url"] for r in sample if r["text"] != html_to_text_py(html[r["url"]].decode("utf-8"))]
        out.append(("text == html_to_text_py", bool(sample) and not bad_text, f"{len(sample)} rows, {len(bad_text)} differ"))
        bad_id = [r["url"] for r in sample if r["request_id"] != request_id_py(normalize_url_py(r["url"]))]
        out.append(("request_id == request_id_py(normalize_url_py)", bool(sample) and not bad_id, f"{len(bad_id)} differ"))

        info, exact = store.info(), store.info(exact=True)
        out.append(("info() == info(exact=True)", info == exact, f"{info} vs {exact}"))
        handled = info["handledRequestCount"]
        done = self.stats["requestsFinished"] + self.stats["requestsFailed"]
        out.append(("finished + failed == handled_total", done == handled, f"{done} vs {handled}"))
        return out

    def facts(self, cycles: list[int]) -> dict:
        """What the traced ``cycles`` (indices) offered to the enqueue path
        and added, plus the frontier's state at the end."""
        _, store, _ = self.states[-1]
        traced = [self.rounds[i] for i in cycles]
        with open(os.path.join(store.root, store.MANIFEST)) as f:
            manifest = json.load(f)
        return {
            "deltas_outstanding": len(manifest["deltas"]),
            "disk_bytes_per_url": dir_bytes(store.root) / max(1, store.info()["totalRequestCount"]),
            "offered": sum(m["links_found"] + self.shape.batch_size for m in traced),
            "fresh": sum(m["enqueued"] + m["added"] for m in traced),
        }


QUERIES = ("dedup_exact", "dedup_minhash_lsh", "text_quality", "corpus_curation")


def _canon(rows: list[tuple], cols: list[str]) -> list[str]:
    """Order-insensitive, column-name-sorted rendering of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = f"{v:.9g}"
            vals.append(str(v))
        out.append("\x1f".join(vals))
    return sorted(out)


class CorpusDedup:
    """One cycle = the four post-crawl queries of ``__spark_entry__``
    (``dedup_exact``, ``dedup_minhash_lsh``, ``text_quality``,
    ``corpus_curation``) over a seeded ``documents.parquet``, each collected
    to the driver."""

    name = "corpus_dedup"
    setup_reps = 3
    min_cycles = 3  # passes are short: the median of three rides out a slow one

    def __init__(self, spark, seed: int, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.shape = gen.CorpusShape()
        self.dirs: list[str] = []
        self.op_s: list[float] = []
        self.last: dict[str, tuple[list[str], list[tuple]]] = {}

    def setup(self, rep_dir: str) -> None:
        """Generate and write the corpus, then build (analyze) the four query
        plans over it, as a job does before it runs them; the plans are
        built again in every pass."""
        import __spark_entry__ as entry

        gen.write_documents(gen.documents(self.seed, self.shape), rep_dir)
        queries = entry.queries()
        for name in QUERIES:
            queries[name](self.spark, rep_dir).columns
        self.dirs.append(rep_dir)

    def _pass(self, sf_dir: str) -> None:
        import __spark_entry__ as entry

        queries = entry.queries()
        for name in QUERIES:
            with self.tracer.span(f"query.{name}"):
                df = queries[name](self.spark, sf_dir)
                self.last[name] = ([c.lower() for c in df.columns], [tuple(r) for r in df.collect()])

    def warm(self) -> None:
        """One untimed pass on the first state."""
        self._pass(self.dirs[0])

    def ready(self) -> None:
        pass

    def cycle(self) -> int:
        t = time.perf_counter()
        self._pass(self.dirs[-1])
        self.op_s.append(time.perf_counter() - t)
        return self.shape.n_docs

    def finish(self) -> None:
        pass

    def rate(self, items: int, wall: float) -> float:
        """Documents per second of query time."""
        return items / sum(self.op_s)

    def check(self) -> list[tuple[str, bool, str]]:
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            path = os.path.join(self.dirs[-1], "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            out = []
            for name in QUERIES:
                cols, rows = self.last[name]
                res = con.execute(oracles[name])
                d_cols = [c[0].lower() for c in res.description]
                d_rows = res.fetchall()
                ok = sorted(cols) == sorted(d_cols) and _canon(rows, cols) == _canon(d_rows, d_cols)
                out.append((f"{name} == DuckDB oracle", ok and bool(rows), f"{len(rows)} vs {len(d_rows)} rows"))
        finally:
            con.close()
        return out

    def facts(self, cycles: list[int]) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (Crawl, CorpusDedup)}

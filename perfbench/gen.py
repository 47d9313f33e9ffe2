"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and size arguments: the same
seed gives byte-identical tables, another seed gives different content of the
same shape and size (so run-to-run spread measures the program, not the
input size). Tables are written as parquet with pyarrow; the program under
test only ever sees those files.

Each property below carries the reason it is there.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# Word pool for page and document bodies. The English function words are in
# the pool so text_quality's stopword ratio and lang-ID see realistic prose;
# the other languages' markers let lang-ID pick more than one label.
_WORDS = (
    "crawl frontier request queue spark batch shuffle stage task host domain "
    "page link anchor robots politeness budget claim lease round commit delta "
    "snapshot compaction parquet arrow python worker driver executor memory "
    "dedup shingle minhash band bucket jaccard corpus document quality filter "
    "token vocabulary language score index partition window join broadcast"
).split()
_STOP = ("the", "a", "an", "of", "to", "in", "and", "is", "it", "that")
_LANG_WORDS = {
    "en": ("the", "of", "and", "is", "that", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "la", "los", "que", "es", "y"),
    "fr": ("le", "la", "les", "et", "est", "que"),
}


def _rng(seed: int, name: str) -> random.Random:
    return random.Random(f"{seed}:{name}")


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=8192)


# ---------------------------------------------------------------------------
# crawl: pages + robots + seeds
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CrawlShape:
    # 10k pages: enough pending rows that the timed rounds never drain the
    # frontier, small enough that the fetch join (a plain shuffle join below
    # the engine's 1 GiB prune threshold) stays a minority of the round.
    n_pages: int = 10_000
    # 40 registrable domains, 3 hosts each: the same-domain strategy and the
    # politeness key (registrable domain) see cross-host links that stay in
    # scope, and a multi-label public suffix (.co.uk) keeps the PSL path hot.
    n_domains: int = 40
    hosts_per_domain: int = 3
    # one hot domain holds 30% of pages: the per-domain budget then caps the
    # claim on it, and the salted top-k has a skewed key to split.
    hot_share: float = 0.30
    # ~2 KB pages with 8 anchors each (3 same-host, 1 same-domain other
    # host, 1 cross-domain, 1 relative, plus a `#frag` and a `utm_` variant
    # of the first two): per-page extraction, robots and link keying are a
    # real but minority share of a 2,000-claim round, whose fixed cost
    # dominates; the variants give the in-batch dedup duplicates to drop.
    words_per_page: int = 200
    same_host_links: int = 3
    same_domain_links: int = 1
    cross_domain_links: int = 1
    relative_links: int = 1
    # 90% of pages are seeded up front: rounds churn a large pending set
    # (the merge-on-read claim path) while the 10% unseeded pages are found
    # through links, so the enqueue path admits some fresh rows every round.
    seeded_share: float = 0.90
    # fault rates, each a distinct outcome class of the round: 404 is a
    # final fail, 503 a retry, 403 a session-rotation retry, a redirect
    # makes loaded_url differ from url, and a dangling link is a missing
    # page row (fetch error).
    p404: float = 0.02
    p503: float = 0.02
    p403: float = 0.01
    p_redirect: float = 0.03
    p_dangling_link: float = 0.02
    # 70% of hosts serve a robots.txt disallowing /private; 4% of pages live
    # under /private, so both the seeding and the fetch-time robots gates
    # reject real rows. The other 30% of hosts have no robots row (allow-all).
    p_robots_host: float = 0.70
    p_private: float = 0.04
    # one add_seeds batch per timed cycle (a sitemap or an API feeding the
    # running crawl): half of it already in the frontier (the anti-join and
    # a Bloom prefilter have real overlap to remove), 10% exact repeats and
    # 10% alternate spellings (case, #frag, utm_, trailing slash, query
    # order) of this batch's new URLs, which are pages no page links to.
    n_batches: int = 4
    batch_size: int = 4_000
    batch_seen_share: float = 0.50
    batch_dup_share: float = 0.10
    batch_variant_share: float = 0.10

    @property
    def batch_new(self) -> int:
        dup = int(self.batch_size * self.batch_dup_share)
        var = int(self.batch_size * self.batch_variant_share)
        return self.batch_size - int(self.batch_size * self.batch_seen_share) - dup - var


def _variant(rng: random.Random, url: str) -> str:
    """A spelling of ``url`` that normalizes back to it."""
    k = rng.randrange(4)
    if k == 0:
        host, rest = url[len("https://"):].split("/", 1)
        return f"HTTPS://{host.upper()}/{rest}"
    if k == 1:
        return url + "#section"
    if k == 2:
        return url + ("&" if "?" in url else "?") + "utm_source=feed"
    if "?" in url:
        base, q = url.split("?", 1)
        return base + "/?" + "&".join(reversed(q.split("&")))
    return url + "/"


def _crawl_hosts(shape: CrawlShape) -> tuple[list[str], list[int]]:
    """Host names and their domain index; every 5th domain is a .co.uk."""
    hosts, dom_of = [], []
    for d in range(shape.n_domains):
        dom = f"site{d}.co.uk" if d % 5 == 4 else f"site{d}.com"
        for h in range(shape.hosts_per_domain):
            hosts.append(("www." if h == 0 else f"h{h}.") + dom)
            dom_of.append(d)
    return hosts, dom_of


def crawl_corpus(seed: int, shape: CrawlShape = CrawlShape()) -> dict:
    """Pages, robots, seeds and add_seeds batches for a crawl.

    Returns ``{"pages": rows..., "robots": rows..., "seeds": urls...,
    "batches": [urls...], "facts": {...}}`` as Python lists;
    ``write_crawl_corpus`` persists them. ``facts["batch_new"]`` is the
    number of fresh rows each batch must add.
    """
    rng = _rng(seed, "crawl")
    hosts, dom_of = _crawl_hosts(shape)
    hot_hosts = [i for i, d in enumerate(dom_of) if d == 0]

    # page -> host: hot domain first, the rest uniform
    page_host = [
        rng.choice(hot_hosts) if rng.random() < shape.hot_share else rng.randrange(len(hosts))
        for _ in range(shape.n_pages)
    ]
    urls = []
    for i, h in enumerate(page_host):
        section = "private" if rng.random() < shape.p_private else rng.choice(("a", "b", "docs", "blog"))
        urls.append(f"https://{hosts[h]}/{section}/p{i}")
    # orphan pages, reachable only through the add_seeds batches; every 4th
    # has a (sorted) query so query-order variants apply
    n_orphans = shape.n_batches * shape.batch_new
    for k in range(n_orphans):
        h = rng.choice(hot_hosts) if rng.random() < shape.hot_share else rng.randrange(len(hosts))
        page_host.append(h)
        urls.append(f"https://{hosts[h]}/new/q{k}" + (f"?page={k % 7}&sort=asc" if k % 4 == 0 else ""))
    # links only ever point at the first n_pages (never at an orphan)
    pages_on_host: dict[int, list[int]] = {}
    pages_on_dom: dict[int, list[int]] = {}
    for i, h in enumerate(page_host[: shape.n_pages]):
        pages_on_host.setdefault(h, []).append(i)
        pages_on_dom.setdefault(dom_of[h], []).append(i)

    def pick(pool: list[int]) -> int:
        return pool[rng.randrange(len(pool))]

    rows = []
    for i, url in enumerate(urls):
        h = page_host[i]
        same_host = pages_on_host.get(h) or pages_on_dom.get(dom_of[h]) or [0]
        same_dom = pages_on_dom.get(dom_of[h]) or [0]
        targets = [urls[pick(same_host)] for _ in range(shape.same_host_links)]
        targets += [urls[pick(same_dom)] for _ in range(shape.same_domain_links)]
        targets += [urls[rng.randrange(shape.n_pages)] for _ in range(shape.cross_domain_links)]
        rel = [urls[pick(same_host)].split("/", 3)[3] for _ in range(shape.relative_links)]
        if rng.random() < shape.p_dangling_link:
            targets[-1] = f"https://{hosts[h]}/gone/p{shape.n_pages + i}"
        anchors = [f'<a href="{t}">{rng.choice(_WORDS)}</a>' for t in targets]
        anchors += [f'<a href="/{r}">{rng.choice(_WORDS)}</a>' for r in rel]
        anchors.append(f'<a href="{targets[0]}#frag">dup</a>')
        anchors.append(f'<a href="{targets[1]}?utm_source=feed">dup</a>')
        words = rng.choices(_WORDS + list(_STOP), k=shape.words_per_page)
        paras = [" ".join(words[k : k + 40]) for k in range(0, len(words), 40)]
        body = []
        for k, p in enumerate(paras):
            body.append(f"<p>{p} &amp; more</p>")
            if k < len(anchors):
                body.append(" ".join(anchors[k::len(paras)]))
        html = (
            "<html><head><title>t</title><script>var x = 1;</script></head><body>"
            f"<h1>Page {i}</h1>" + "".join(body) + "<ul><li>one</li><li>two</li></ul>"
            "</body></html>"
        )
        r = rng.random()
        status, loaded = 200, url
        if r < shape.p404:
            status = 404
        elif r < shape.p404 + shape.p503:
            status = 503
        elif r < shape.p404 + shape.p503 + shape.p403:
            status = 403
        elif r < shape.p404 + shape.p503 + shape.p403 + shape.p_redirect:
            loaded = url + "/moved"
        rows.append((url, html.encode("utf-8"), status, "text/html; charset=utf-8", loaded))

    robots = []
    for host in hosts:
        if rng.random() < shape.p_robots_host:
            robots.append((host, "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"))
    seeds = [u for u in urls[: shape.n_pages] if rng.random() < shape.seeded_share]
    n_new = shape.batch_new
    n_seen = int(shape.batch_size * shape.batch_seen_share)
    n_dup = int(shape.batch_size * shape.batch_dup_share)
    n_var = shape.batch_size - n_seen - n_dup - n_new
    batches = []
    for b in range(shape.n_batches):
        new = urls[shape.n_pages + b * n_new : shape.n_pages + (b + 1) * n_new]
        tail = [
            _variant(rng, u) if rng.random() < 0.2 else u
            for u in (seeds[rng.randrange(len(seeds))] for _ in range(n_seen))
        ]
        tail += [new[rng.randrange(n_new)] for _ in range(n_dup)]
        tail += [_variant(rng, new[rng.randrange(n_new)]) for _ in range(n_var)]
        # new URLs arrive first, so first-wins keeps their canonical spelling
        rng.shuffle(tail)
        batches.append(new + tail)
    facts = {"batch_new": n_new, "batch_seen": n_seen, "batch_dup": n_dup, "batch_variant": n_var}
    return {"pages": rows, "robots": robots, "seeds": seeds, "batches": batches, "facts": facts}


def write_crawl_corpus(corpus: dict, out_dir: str) -> dict:
    """Write pages/robots/seeds parquet under ``out_dir``; return the paths."""
    pages = corpus["pages"]
    paths = {k: os.path.join(out_dir, f"{k}.parquet") for k in ("pages", "robots", "seeds")}
    _write(
        pa.table(
            {
                "url": [r[0] for r in pages],
                "html": pa.array([r[1] for r in pages], pa.binary()),
                "status_code": pa.array([r[2] for r in pages], pa.int32()),
                "content_type": [r[3] for r in pages],
                "loaded_url": [r[4] for r in pages],
            }
        ),
        paths["pages"],
    )
    _write(
        pa.table(
            {
                "host": pa.array([r[0] for r in corpus["robots"]], pa.string()),
                "robots_txt": pa.array([r[1] for r in corpus["robots"]], pa.string()),
            }
        ),
        paths["robots"],
    )
    _write(pa.table({"url": pa.array(corpus["seeds"], pa.string())}), paths["seeds"])
    for b, urls in enumerate(corpus["batches"]):
        paths[f"batch{b}"] = os.path.join(out_dir, f"batch{b:03d}.parquet")
        _write(pa.table({"url": pa.array(urls, pa.string())}), paths[f"batch{b}"])
    return paths


# ---------------------------------------------------------------------------
# corpus: documents.parquet with planted near-duplicate clusters
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CorpusShape:
    n_docs: int = 2_000
    # 8% of documents head a near-duplicate cluster of 2-4 members, each a
    # one-word edit of the head: MinHash LSH has real candidate buckets to
    # verify (and the query's own "+ extra" twins add more).
    cluster_share: float = 0.08
    # 4% are byte-exact copies of an earlier document: dedup_exact and the
    # curation survivor join drop real rows.
    exact_share: float = 0.04
    # 10 sources, source 0 holding 40%: the curation rollup has a skewed
    # group key.
    n_sources: int = 10
    # document length 20-300 words: short ones fail the quality gate, long
    # ones pass, so corpus_curation's filter keeps a real fraction.
    min_words: int = 20
    max_words: int = 300


def documents(seed: int, shape: CorpusShape = CorpusShape()) -> dict:
    """Rows ``(doc_id, text, lang, source)`` and the planted counts."""
    rng = _rng(seed, "corpus")
    langs = sorted(_LANG_WORDS)
    rows: list[tuple] = []
    n_clustered = 0
    n_exact = 0
    while len(rows) < shape.n_docs:
        lang = langs[rng.randrange(len(langs))]
        src = "src0" if rng.random() < 0.4 else f"src{rng.randrange(1, shape.n_sources)}"
        r = rng.random()
        if rows and r < shape.exact_share:
            text = rows[rng.randrange(len(rows))][1]
            n_exact += 1
            rows.append((len(rows), text, lang, src))
            continue
        pool = _WORDS + list(_STOP) + list(_LANG_WORDS[lang]) * 3
        words = rng.choices(pool, k=rng.randint(shape.min_words, shape.max_words))
        rows.append((len(rows), " ".join(words), lang, src))
        if r < shape.exact_share + shape.cluster_share:
            n_clustered += 1
            for _ in range(rng.randint(1, 3)):
                if len(rows) >= shape.n_docs:
                    break
                w = list(words)
                w[rng.randrange(len(w))] = rng.choice(pool)
                rows.append((len(rows), " ".join(w), lang, src))
    facts = {"docs": len(rows), "clusters": n_clustered, "exact_copies": n_exact}
    return {"rows": rows, "facts": facts}


def write_documents(corpus: dict, out_dir: str) -> str:
    rows = corpus["rows"]
    path = os.path.join(out_dir, "documents.parquet")
    _write(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array([r[3] for r in rows], pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        path,
    )
    return path

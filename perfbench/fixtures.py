"""Seeded workload inputs and their cached oracle.

Every input a workload feeds the crawler is built here from the run's
``--seed`` and written once, as parquet, under the cache directory; the
expected results (the ``CrawlSimulator`` crawl order, URL-seen set and
per-wave metrics, or the frontier workload's expected counts) are written
next to it with a digest per wave prefix.  None of this is timed: a run
that finds the cache reuses it, and the program under test only ever sees
the generated inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# Bump when a generator or oracle changes, so stale caches are not reused.
CACHE_VERSION = 5

DOCS_ARROW = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("spans", pa.list_(pa.struct([
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), nullable=False),
    ])), nullable=False),
    pa.field("host", pa.string(), nullable=False),
    pa.field("code", pa.int32(), nullable=False),
    pa.field("redirect_to", pa.string()),
])

# the per-wave metrics the crawler commits and the simulator records
METRIC_KEYS = ["wave", "scheduled", "fetched", "errors", "enqueued",
               "dedup_hits", "policy_dropped", "stored"]


def digest(obj) -> str:
    blob = json.dumps(obj, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()


def crawl_state_digests(order: list[str], metrics: list[dict]) -> dict:
    """Digest of one crawl prefix: fetch order and wave metrics.  The
    oracle stores one per wave prefix; a run computes the same from the
    crawler's outputs."""
    return {
        "crawl_order": digest(order),
        "metrics": digest([[m[k] for k in METRIC_KEYS] for m in metrics]),
    }


def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _read_json(path: str):
    with open(path) as f:
        return json.load(f)


class FixtureCache:
    """One directory per (workload, size, seed); ``ready`` marks a
    complete write, so an interrupted generation is redone."""

    def __init__(self, root: str, workload: str, size: str, seed: int):
        self.dir = os.path.join(root, f"v{CACHE_VERSION}-{workload}-{size}-{seed}")

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def ready(self) -> bool:
        return os.path.exists(self.path("ready"))

    def start(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)

    def finish(self) -> None:
        open(self.path("ready"), "w").close()

    def write_json(self, name: str, obj) -> None:
        _write_json(self.path(name), obj)

    def read_json(self, name: str):
        return _read_json(self.path(name))


# ------------------------------------------------------------------ crawls
def crawl_fixture(cache: FixtureCache, *, n_hosts: int, max_docs: int,
                  seed: int, robots_frac: float,
                  with_redirects: bool, opts, clock_step: int,
                  oracle_waves: int, seed_hosts: int,
                  seeds_per_host: int) -> None:
    """Generate the web, pick ``seeds_per_host`` seed URLs on each of the
    ``seed_hosts`` largest hosts (a seeded sample of their pages), run the
    simulator for ``oracle_waves`` waves and cache docs (parquet), seeds
    and oracle."""
    from polipus_spark.simulator import CrawlSimulator
    from polipus_spark.sources.corpus import gen_corpus

    cache.start()
    docs = gen_corpus(n_hosts=n_hosts, max_docs_per_host=max_docs, seed=seed,
                      robots_frac=robots_frac,
                      with_redirect_chain=with_redirects)
    pq.write_table(pa.Table.from_pylist(docs, schema=DOCS_ARROW),
                   cache.path("docs.parquet"))
    rng = random.Random(seed)
    seeds = []
    for h in range(seed_hosts):
        pages = sorted(d["doc_id"] for d in docs if d["code"] == 200
                       and d["host"] == f"host{h}.example.com"
                       and "/login/" not in d["doc_id"]
                       and not d["doc_id"].endswith("/robots.txt"))
        seeds += rng.sample(pages, min(seeds_per_host, len(pages)))

    sim = CrawlSimulator(docs, opts, clock_fn=lambda w: w * clock_step)
    links: dict[int, int] = {}
    extract = sim._extract_links

    def counting_extract(page_url, spans):
        out = extract(page_url, spans)
        links[sim.next_wave] = links.get(sim.next_wave, 0) + len(out)
        return out

    sim._extract_links = counting_extract
    sim.seed(seeds)
    waves, prefixes = [], []
    for _ in range(oracle_waves):
        if all(r["seq"] in sim.scheduled for r in sim.frontier):
            break
        n_order, seen_before = len(sim.crawl_order), set(sim.seen)
        m = sim.process_wave()
        wave = sim.next_wave
        sim.next_wave += 1
        waves.append({
            "metrics": {k: m.get(k, 0) for k in METRIC_KEYS},
            "order": sim.crawl_order[n_order:],
            "seen_added": sorted(sim.seen - seen_before),
            "links": links.get(wave, 0),
        })
        prefixes.append(crawl_state_digests(
            sim.crawl_order, [w["metrics"] for w in waves]))
    cache.write_json("oracle.json", {
        "seeds": seeds,
        "n_docs": len(docs),
        "waves": waves,
        "prefix_digests": prefixes,
    })
    cache.finish()


# ---------------------------------------------------------------- frontier
# Largest seeded id offset into the shared synthetic frontier.
MAX_OFFSET = 1 << 16
# Spark reads each input as this many files, as it would read a parquet
# table written from local[4].
N_FILES = 4


def frontier_base(cache: FixtureCache, spark, *, n_hosts: int, n_urls: int) -> list[str]:
    """URLs of ``synthetic_frontier`` rows 0..n_urls-1, in seq order.  They
    do not depend on the seed, so they are generated once (with Spark) and
    shared by every seed."""
    if not cache.ready():
        from polipus_spark.sources.corpus import synthetic_frontier

        cache.start()
        synthetic_frontier(spark, n_urls, n_hosts=n_hosts).select(
            "url", "seq").write.parquet(cache.path("urls.parquet"))
        cache.finish()
    return pq.read_table(cache.path("urls.parquet")).sort_by("seq").column(
        "url").to_pylist()


def _write_files(path: str, table: pa.Table) -> None:
    """Write ``table`` as ``N_FILES`` parquet files, rows dealt round-robin
    so that every file holds a share of every wave."""
    os.makedirs(path)
    for k in range(N_FILES):
        part = table.take(pa.array(range(k, table.num_rows, N_FILES)))
        pq.write_table(part, os.path.join(path, f"part-{k}.parquet"))


def frontier_fixture(cache: FixtureCache, base: list[str], *, seed: int,
                     n_preload: int, batch: int, oracle_waves: int) -> None:
    """Preload rows from the shared synthetic frontier at a seeded id
    offset, plus one candidate batch per wave.  A batch is half fresh URLs,
    a tenth in-batch repeats of fresh URLs and two fifths URLs picked (with
    the seed) from the half of the preload that setup marks seen; the
    expected number appended per wave is the number of distinct fresh
    URLs."""
    cache.start()
    rng = random.Random(seed)
    offset = rng.randrange(0, MAX_OFFSET)
    n_fresh = batch // 2
    n_dup = batch // 10
    n_seen = batch - n_fresh - n_dup
    urls = base[offset:offset + n_preload + oracle_waves * n_fresh]
    assert len(urls) == n_preload + oracle_waves * n_fresh, "base too short"
    _write_files(cache.path("preload.parquet"), pa.table({
        "url": urls[:n_preload],
        "parent_seq": pa.array(range(n_preload), pa.int64()),
        "marked": [i % 2 == 0 for i in range(n_preload)],
    }))
    rows = []   # (url, wave, position in the batch)
    for w in range(oracle_waves):
        fresh = urls[n_preload + w * n_fresh:n_preload + (w + 1) * n_fresh]
        rows += [(u, w, pos) for pos, u in enumerate(fresh)]
        rows += [(u, w, n_fresh + pos) for pos, u in enumerate(fresh[:n_dup])]
        rows += [(urls[2 * rng.randrange(n_preload // 2)], w, n_fresh + n_dup + j)
                 for j in range(n_seen)]
    url, wave, pos = zip(*rows)
    _write_files(cache.path("batches.parquet"), pa.table({
        "url": list(url),
        "wave": pa.array(wave, pa.int32()),
        "parent_seq": pa.array(pos, pa.int64()),
    }))
    cache.write_json("oracle.json", {
        "offset": offset, "n_preload": n_preload, "batch": batch,
        "n_fresh": n_fresh, "n_seen": n_seen, "n_dup": n_dup,
        "waves": oracle_waves,
    })
    cache.finish()

"""The benchmark's workloads. Both are closed loops with one client: a
round starts only when the previous one has ended, in one Python process
driving Spark at ``local[nproc]``.

* ``crawl_stream`` — the crawl loop driven through the Structured-Streaming
  face (``streaming.run_crawl_stream``) over the default ``WorldSpec``
  (6 hosts, 40% of listings on the hot host). Per-round fixed cost (Spark
  jobs, snapshot commits, metrics, seen-store appends) is nearly all of
  its time.
* ``corpus_ingest`` — one training-data ingest round as ``bench.py``'s
  ``ingest_round_bench`` composes it: fetch → html→text → exact dedup →
  MinHash join against a corpus band table → quality → clean → sample →
  pack. It skips the crawl loop and the seen set, so it moves on
  html_text and textops changes and stays put on crawl-loop changes.

Timing starts after a warm-up on another seed, which counts in
``setup_s``. The timed units are a fixed range of round indices (or a
fixed number of ingest rounds), always from the same starting state:
``--seconds`` picks their number through a nominal unit cost, never
through the machine's speed.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

from spans import percentile

NOMINAL_UNIT_S = {"crawl_stream": 7.0, "corpus_ingest": 9.0}
WARM_SEED_OFFSET = 100_003
INGEST_PAGES = 1200
INGEST_CORPUS = 900


def timed_units(workload: str, seconds: int) -> int:
    return max(1, round(seconds / NOMINAL_UNIT_S[workload]))


# ---- files -------------------------------------------------------------------

def tree_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def new_files(before: dict, after: dict) -> dict[str, int]:
    """Files present in *after* that are absent from or changed since
    *before*, with their sizes."""
    return {p: v[0] for p, v in after.items() if before.get(p) != v}


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


# ---- run context -----------------------------------------------------------

@dataclass
class Result:
    units: list[float]          # wall time of each timed round
    pages: int                  # pages in the timed rounds
    window: tuple[float, float]
    bytes_written: int
    failures: list[str]
    counts: dict = field(default_factory=dict)  # layer counts (ratios, compactions)


class Bench:
    """One benchmark process: its Spark session, directories and tracer."""

    def __init__(self, spark, work: str, cache: str, seed: int, seconds: int, t0: float,
                 tracer=None):
        self.spark = spark
        self.t0 = t0
        self.work = work
        self.cache = cache
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.on_publish = None
        self.on_window = None  # the traced run's fn(opening: bool) at the window's edges

    def log(self, msg: str) -> None:
        print(f"[{time.time() - self.t0:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def window_edge(self, opening: bool) -> None:
        if self.on_window is not None:
            self.on_window(opening)

    def span(self, layer: str, name: str):
        """Charge a benchmark-composed step to *layer* in the traced run."""
        return self.tracer.span(layer, name) if self.tracer else contextlib.nullcontext()

    def hook_publish(self) -> None:
        """Round boundaries are the returns of ``SnapshotStore.publish``."""
        from frontier_engine import snapshots

        original = snapshots.SnapshotStore.publish
        bench = self

        def publish(store, entry):
            original(store, entry)
            if bench.on_publish is not None:
                bench.on_publish(entry)

        snapshots.SnapshotStore.publish = publish


# ---- crawl_stream --------------------------------------------------------------

def _world(bench: Bench, spec) -> dict[str, str]:
    """The world's parquet tables, generated once per seed and cached."""
    from frontier_engine import fixtures

    out = os.path.join(bench.cache, f"world-{spec.seed}-{spec.n_hosts}-{spec.listings_total}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        fixtures.write_world(spec, tmp)
        os.replace(tmp, out)
    return {t: os.path.join(out, f"{t}.parquet") for t in ("pages", "seeds")}


def _stream_crawl(bench: Bench, spec, cfg, max_rounds: int, snap: str):
    from frontier_engine import streaming
    from frontier_engine.parse import CrawlArgs

    paths = _world(bench, spec)
    pages = bench.spark.read.parquet(paths["pages"])
    seeds = bench.spark.read.parquet(paths["seeds"]).select("url")
    args = CrawlArgs(spec.checkin, spec.checkout, spec.price_max)
    return streaming.run_crawl_stream(
        bench.spark, pages, cfg, args, seeds=seeds, snapshot_dir=snap, max_rounds=max_rounds
    )


def crawl_stream(bench: Bench) -> Result:
    from frontier_engine import fixtures, simulator
    from frontier_engine.config import EngineConfig
    from frontier_engine.parse import CrawlArgs

    k = timed_units("crawl_stream", bench.seconds)
    # The window opens when the seed list's ingest publishes (round 0) and
    # closes when round k publishes; round r's time runs from round r-1's
    # publish to its own. In this face a micro-batch ingests the previous
    # round's discoveries and then runs its round, so round 1 is the only
    # timed round without an ingest.
    first, last = 0, k
    cfg = EngineConfig()
    bench.hook_publish()

    # warm-up: the same crawl code on another world, untimed
    warm = fixtures.WorldSpec(seed=bench.seed + WARM_SEED_OFFSET)
    bench.log("warm-up crawl")
    _stream_crawl(bench, warm, cfg, 1, os.path.join(bench.work, "warm"))
    bench.log("timed crawl")

    spec = fixtures.WorldSpec(seed=bench.seed)
    snap = os.path.join(bench.work, "timed")
    marks: dict = {"t": {}, "frontier_bases": 0, "tables": []}  # t: round → publish time

    def on_publish(entry):
        stamps = marks["t"]
        if first in stamps and last not in stamps:  # inside the window
            marks["tables"] += [t["path"] for t in entry["tables"].values()]
            marks["frontier_bases"] += "frontier_base" in entry["tables"]
        rnd = int(entry["meta"]["round"])
        boundary = entry["meta"].get("phase") == "round_done" or (rnd == first and not stamps)
        if not boundary:
            return
        if rnd == first:
            marks["before"] = tree_files(snap)
            bench.window_edge(opening=True)
        stamps[rnd] = time.time()
        if rnd == last:
            bench.window_edge(opening=False)
            marks["after"] = tree_files(snap)

    bench.on_publish = on_publish
    res = _stream_crawl(bench, spec, cfg, last, snap)
    bench.on_publish = None

    bench.log("checking outputs")
    stamps = marks["t"]
    failures = []
    if sorted(stamps) != list(range(first, last + 1)):
        failures.append(f"timed rounds {first}..{last} incomplete: saw {sorted(stamps)}")
        return Result([], 0, (0.0, 0.0), 0, failures)
    units = [stamps[r] - stamps[r - 1] for r in range(first + 1, last + 1)]
    window = (stamps[first], stamps[last])

    # output check: the round batches equal the reference simulator's
    world = fixtures.generate_world(spec)
    body = simulator.pages_dict(world)
    args = CrawlArgs(spec.checkin, spec.checkout, spec.price_max)
    sim = simulator.simulate(spec, body, cfg, args, max_rounds=last)
    eng = sorted(
        (r["round"], r["host"], r["url"], r["rank"]) for r in res["outputs"]["batches"].collect()
    )
    if eng != sorted(sim.batches):
        failures.append(f"batches differ from simulator: {len(eng)} vs {len(sim.batches)} rows")

    timed = [b for b in sim.batches if first < b[0] <= last]
    written = new_files(marks["before"], marks["after"])
    counts = {"frontier_compactions": marks["frontier_bases"]}
    fetched = [b[2] for b in timed if b[2] in body]
    counts["hit_ratio"] = len(fetched) / max(1, len(timed))
    # candidates of rounds first..last-1 are ingested inside the window
    cands = sum(
        len(simulator._parse_candidates(spec, args, b[2], body[b[2]]))
        for b in sim.batches
        if first <= b[0] < last and b[2] in body
    )
    counts["candidates"] = cands
    tables = tuple(os.path.normpath(p) + os.sep for p in marks["tables"])
    counts["snapshot_files"] = sum(1 for p in written if p.startswith(tables))
    seen_root = os.path.join(snap, "seen_exact_store") + os.sep
    counts["seen_bytes_rewritten"] = sum(
        n for p, n in written.items() if p.startswith(seen_root) and os.sep + "base-snap-" in p
    )
    return Result(units, len(timed), window, sum(written.values()), failures, counts)


# ---- corpus_ingest -------------------------------------------------------------

STAGE_OUTPUTS = (
    "fetched", "batch_docs", "uniq_docs", "survivors", "kept", "cleaned", "sampled", "packed",
)


def _ingest_inputs(bench: Bench, seed: int) -> tuple[dict, str]:
    """Generate (once per seed, then cached) the pages, batch and corpus
    tables and the expected outputs; returns (expected, table dir)."""
    import json

    import pandas as pd

    import corpus as gen

    out = os.path.join(bench.cache, f"ingest-{seed}-{INGEST_PAGES}-{INGEST_CORPUS}")
    if not os.path.isdir(out):
        inputs = gen.generate(seed, INGEST_PAGES, INGEST_CORPUS)
        tmp = out + f".tmp{os.getpid()}"
        os.makedirs(tmp)
        pages = pd.DataFrame(inputs.pages)
        pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us]")
        pages.to_parquet(os.path.join(tmp, "pages.parquet"), index=False)
        pd.DataFrame({
            "url": inputs.batch_urls,
            "host": [u.split("/")[2] for u in inputs.batch_urls],
        }).to_parquet(os.path.join(tmp, "batch.parquet"), index=False)
        pd.DataFrame(inputs.corpus).to_parquet(os.path.join(tmp, "corpus.parquet"), index=False)
        stored = {p["url"]: p["text"] for p in inputs.pages}
        expected = {
            "texts": {u: stored[u] for u in inputs.batch_urls if u in stored},
            "batch_size": len(inputs.batch_urls),
            "exact_dups": inputs.exact_dups,
            "near_dup_texts": sorted(inputs.near_dup_texts),
        }
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump(expected, f)
        os.replace(tmp, out)
    with open(os.path.join(out, "expected.json")) as f:
        return json.load(f), out


def _ingest_setup(bench: Bench, seed: int, name: str):
    """Inputs plus the corpus band table, which a deployment computes once
    and persists (not part of the round)."""
    from frontier_engine import textops

    expected, src = _ingest_inputs(bench, seed)
    root = os.path.join(bench.work, name)
    corpus = bench.spark.read.parquet(os.path.join(src, "corpus.parquet"))
    textops.corpus_band_table(corpus).write.mode("overwrite").parquet(os.path.join(root, "bands"))
    return expected, src, root


def _ingest_round(bench: Bench, src: str, root: str) -> None:
    """One ingest round; each stage writes its output under *root*/round
    and is charged to the layer of the operator it materializes."""
    from pyspark.sql import functions as F

    from frontier_engine import fetch, html_text, textops

    spark = bench.spark
    out = os.path.join(root, "round")
    path = {name: os.path.join(out, name) for name in STAGE_OUTPUTS}
    read = lambda name: spark.read.parquet(path[name])  # noqa: E731
    # Every stage output is written as nproc files: left to AQE, a small
    # output coalesces to one file on some seeds and not on others, and the
    # next stage then runs on one core (a 2-6x slower round on those seeds).
    nparts = spark.sparkContext.defaultParallelism
    write = lambda df, name: df.repartition(nparts).write.mode("overwrite").parquet(path[name])  # noqa: E731
    pages = spark.read.parquet(os.path.join(src, "pages.parquet"))
    corpus = spark.read.parquet(os.path.join(src, "corpus.parquet"))

    with bench.span("fetch", "stage.fetch"):
        batch = spark.read.parquet(os.path.join(src, "batch.parquet")).withColumn("rank", F.lit(1))
        fetched, _missing = fetch.fetch_batch(batch, pages)
        write(fetched.select("url", "html"), "fetched")
    with bench.span("html_text", "stage.parse_text"):
        docs = read("fetched").select(F.xxhash64("url").alias("doc_id"), "html")
        write(html_text.html_bytes_to_text_arrow(docs, keep=("doc_id",)), "batch_docs")
    with bench.span("textops", "stage.exact_dedup"):
        docs = read("batch_docs")
        firsts = textops.exact_dedup(docs).select("doc_id")
        write(docs.join(firsts, "doc_id"), "uniq_docs")
    with bench.span("textops", "stage.minhash_join"):
        uniq = read("uniq_docs")
        bands = spark.read.parquet(os.path.join(root, "bands"))
        matches = textops.minhash_dedup_join(uniq, corpus, corpus_bands=bands).select(
            F.col("id_a").alias("doc_id")
        ).distinct()
        write(uniq.join(matches, "doc_id", "left_anti"), "survivors")
    with bench.span("textops", "stage.quality"):
        surv = read("survivors")
        rep = textops.repetition_metrics(surv, top_ns=(), dup_ns=()).select("doc_id", "word_rep_frac")
        qs = textops.quality_score(surv).select("doc_id", "passes_quality")
        bmk = corpus.where(F.pmod(F.col("doc_id"), F.lit(97)) == 0)
        dec = textops.decontaminate(surv, bmk, n=8).select("doc_id", "contaminated")
        kept = (
            surv.join(rep, "doc_id").join(qs, "doc_id").join(dec, "doc_id")
            .where(F.col("passes_quality") & ~F.col("contaminated") & (F.col("word_rep_frac") < 0.9))
            .select("doc_id", "text")
        )
        write(kept, "kept")
    with bench.span("textops", "stage.clean"):
        pii = textops.pii_redact(read("kept"))
        redacted = pii.select("doc_id", F.col("clean_text").alias("text"))
        c4 = textops.c4_line_filter(redacted).select("doc_id", "lines_kept", "doc_kept")
        rl = textops.repeated_line_dedup(redacted, min_docs=3).select(
            "doc_id", F.col("dedup_text").alias("text")
        )
        write(pii.select("doc_id").join(c4, "doc_id").join(rl, "doc_id").select("doc_id", "text"), "cleaned")
    with bench.span("textops", "stage.sample"):
        labeled = textops.lang_id(read("cleaned")).select("doc_id", "pred_lang")
        quotas = {"en": 5000, "und": 5000, "es": 1000, "fr": 1000, "de": 1000}
        write(textops.stratified_sample(labeled, quotas, group_col="pred_lang"), "sampled")
    with bench.span("textops", "stage.pack"):
        packed, handle = textops.pack_sequences_counted(read("cleaned"), seq_len=2048)
        write(packed, "packed")
        handle.unpersist()


def _check_ingest(bench: Bench, expected: dict, root: str, rows: dict[str, int]) -> list[str]:
    from pyspark.sql import functions as F

    spark = bench.spark
    out = os.path.join(root, "round")
    failures = []
    texts = expected["texts"]
    got = {
        r["url"]: r["text"]
        for r in spark.read.parquet(os.path.join(out, "fetched"))
        .select("url", F.xxhash64("url").alias("doc_id"))
        .join(spark.read.parquet(os.path.join(out, "batch_docs")), "doc_id")
        .select("url", "text").collect()
    }
    if got != texts:
        bad = sum(1 for u, t in texts.items() if got.get(u) != t)
        failures.append(f"html->text differs from the stored text on {bad} of {len(texts)} pages")
    uniq = len(texts) - expected["exact_dups"]
    if rows["uniq_docs"] != uniq:
        failures.append(f"exact dedup kept {rows['uniq_docs']} docs, expected {uniq}")
    dropped = [
        r["text"]
        for r in spark.read.parquet(os.path.join(out, "uniq_docs"))
        .join(spark.read.parquet(os.path.join(out, "survivors")), "doc_id", "left_anti")
        .select("text").collect()
    ]
    planted = set(expected["near_dup_texts"])
    if not set(dropped) <= planted or len(dropped) < 0.9 * len(planted):
        failures.append(f"near-dup join dropped {len(dropped)} docs; {len(planted)} planted")
    return failures


def corpus_ingest(bench: Bench) -> Result:
    reps = timed_units("corpus_ingest", bench.seconds)
    # warm-up: one identical round on another seed's inputs, untimed
    bench.log("warm-up inputs")
    _w_expected, w_src, w_root = _ingest_setup(bench, bench.seed + WARM_SEED_OFFSET, "warm")
    bench.log("warm-up round")
    _ingest_round(bench, w_src, w_root)
    shutil.rmtree(w_root, ignore_errors=True)

    bench.log("timed inputs")
    expected, src, root = _ingest_setup(bench, bench.seed, "timed")
    bench.log("timed rounds")
    units, stage_rows = [], []
    bench.window_edge(opening=True)
    start = time.time()
    for _ in range(reps):
        t = time.time()
        _ingest_round(bench, src, root)
        units.append(time.time() - t)
        stage_rows.append({name: parquet_rows(os.path.join(root, "round", name)) for name in STAGE_OUTPUTS})
    window = (start, time.time())
    bench.window_edge(opening=False)
    written = sum(size for size, _mtime in tree_files(os.path.join(root, "round")).values())

    bench.log("checking outputs")
    failures = _check_ingest(bench, expected, root, stage_rows[-1])
    for i, rows in enumerate(stage_rows[1:], start=2):
        if rows != stage_rows[0]:
            failures.append(f"stage row counts of round {i} differ from round 1: {rows} vs {stage_rows[0]}")
    rows = stage_rows[-1]
    counts = {
        "hit_ratio": rows["fetched"] / expected["batch_size"],
        "dup_ratio": (rows["uniq_docs"] - rows["survivors"]) / max(1, rows["uniq_docs"]),
    }
    pages = expected["batch_size"] * reps
    return Result(units, pages, window, written * reps, failures, counts)


WORKLOADS = {"crawl_stream": crawl_stream, "corpus_ingest": corpus_ingest}


def end_to_end(res: Result, setup_s: float, peak_rss_mb: float) -> dict[str, float]:
    wall = sum(res.units)
    return {
        "pages_per_s": res.pages / wall,
        "round_s.p50": percentile(res.units, 50),
        "setup_s": setup_s,
        "bytes_written_per_page": res.bytes_written / res.pages,
        "peak_rss_mb": peak_rss_mb,
    }

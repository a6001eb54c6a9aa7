"""The benchmark's workloads. Each takes a `Run` and fills in its results.

Every workload has one *operation* whose latencies give `op_p50_ms` and
`op_tail_ms`, one *throughput mode* that gives `ops_per_s`, a set-up phase
timed as `setup_s`, and correctness gates that run outside every timed
region. DESIGN.md says what each generic metric means per workload.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import traceback

import numpy as np

from inputs import (KEYWORDS, STEMS, bm25_queries, cached, delete_batches,
                    rules_requests, start_input, tail_terms)
from tracing import SPARK_FIELDS, Tracer, patch_layers, spark_counters

CORPUS_DOCS = 4000          # code corpus of the build and serve_rules workloads
BM25_DOCS = 50_000          # code corpus of the entry_mix batches
SERVE_DATA_SEED = 7         # the serving corpora and indexes are seed-independent
ENTRY_DOCS = 5000           # rows of the entry workload's documents table
ENTRY_DATA_SEED = 42        # the documents table is seed-independent
SETUPS = 5                  # set-ups timed per run (median taken)
# Minimum operations per timed loop and the tail percentile reported for
# it. p97.5 has at least ten samples beyond it; loops too short to support a
# tail percentile report their maximum (100).
MIN_BUILDS, BUILD_TAIL = 1, 100       # one build per run
MIN_SEARCHES, SEARCH_TAIL = 720, 97.5  # falls among the first searches
#                                        after a reopen (1 in DELETE_EVERY)
ENTRY_ROUNDS, ENTRY_TAIL = 3, 100     # an entry_mix operation is one round
WAND_BLOCK = 20             # queries per block of driver-side wand_topk queries
WAND_EVERY = 2              # entry calls per WAND block
WAND_HEAVY = 2              # queries per block with more than HEAVY_POSTINGS postings
HEAVY_POSTINGS = 100_000    # search._EXHAUSTIVE_CUTOFF: block-max WAND beyond it
BATCH_QUERIES = 128         # of them, served again through distributed_topk
DELETE_EVERY = 25           # searches between delete-and-reopen cycles
DELETE_BATCH = 4            # doc ids per delete batch
PROBE_SEED = 11             # the searches right after a reopen are seed-independent
GATE_REQUESTS = 40          # fixed fresh-service sample of serve_rules

ENTRIES = [
    "bm25_engine_topk", "sorted_engine_topk", "documents_browse",
    "facet_engine_counts", "phrase_engine_match", "typo_engine_topk",
    "filtered_engine_topk", "custom_rules_topk", "ranking_details_topk",
    "bm25_topk", "term_frequencies", "tokenize_doc_lengths",
]


class Run:
    """State of one benchmark run: arguments, Spark (started on first use)
    and results."""

    def __init__(self, start_spark, workload: str, seed: int, seconds: float,
                 trace: bool, cache_dir: str, code_key: str, nproc: int):
        self._start_spark = start_spark
        self._spark = None
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cache_dir = cache_dir
        self.code_key = code_key
        self.nproc = nproc
        self.e2e: dict = {}
        self.layers: dict = {}
        self.info: dict = {}
        self.gates: dict = {}
        self.attempted = 0
        self.failed = 0
        self.tracer = None
        self._dirs = 0

    @property
    def spark(self):
        if self._spark is None:
            t0 = time.perf_counter()
            self._spark = self._start_spark()
            self.info["spark_start_s"] = time.perf_counter() - t0
        return self._spark

    @property
    def spark_started(self) -> bool:
        return self._spark is not None

    def fresh_dir(self, tag: str) -> str:
        self._dirs += 1
        path = os.path.join(self.cache_dir, "work", f"{tag}-{self._dirs}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def gate(self, name: str, ok: bool, detail: str = "") -> None:
        self.gates[name] = bool(ok)
        if not ok:
            print(f"GATE FAILED {name}: {detail}", flush=True)

    @property
    def tracing(self) -> bool:
        """True while the current operation is traced."""
        return self.tracer is not None and self.tracer.enabled

    def job_group(self, groups: list, group: str, counted: bool = None) -> None:
        """In a traced run, tag the Spark jobs of the next operation with
        `group`, and remember it in `groups` when its counters count
        (by default: when the operation is traced)."""
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, group)
            if self.tracing if counted is None else counted:
                groups.append(group)


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def pct(values, p: float) -> float:
    v = float(np.percentile(np.asarray(values, dtype=float), p))
    return float("inf") if np.isnan(v) else v


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def peak_rss_mb() -> float:
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def text_bytes(path: str, col: str) -> int:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    col_data = pq.read_table(path, columns=[col])[col]
    return int(pc.sum(pc.binary_length(col_data)).as_py())


def latency_metrics(run: Run, lat_s: list, p: float) -> None:
    """op_p50_ms / op_tail_ms (percentile `p`) over the successful
    latencies plus one infinite latency per failed operation."""
    ms = [x * 1000.0 for x in lat_s] + [float("inf")] * run.failed
    run.e2e["op_p50_ms"] = pct(ms, 50)
    run.e2e["op_tail_ms"] = pct(ms, p)
    run.info["op_samples"] = len(ms)
    run.info["op_tail_percentile"] = p


def _loop(run: Run, op, min_ops: int, after, round_len: int,
          limit: int) -> tuple[list, list]:
    """Closed loop, one client: `op(i)` runs in whole rounds of `round_len`
    operations until `run.seconds` have passed and at least `min_ops`
    operations were attempted. Only `op` is timed; `after(i, result)` runs
    outside the latency (checks, writes). With a tracer, odd-numbered
    rounds run traced and even ones untraced. The run fails rather than
    go past `limit`, the length of its input stream. Returns the latencies
    of the operations that succeeded and the index `i` of each."""
    lat, done = [], []
    i = 0
    t_end = time.perf_counter() + run.seconds
    while i % round_len or time.perf_counter() < t_end or i < min_ops:
        if limit is not None and i >= limit:
            raise RuntimeError(
                f"{run.workload}: the input stream ran out after {limit} "
                "operations; lengthen it rather than repeat inputs")
        if run.tracer is not None:
            run.tracer.enabled = (i // round_len) % 2 == 1
            run.tracer.new_request()
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            result = op(i)
        except Exception:
            run.failed += 1
            traceback.print_exc()
        else:
            lat.append(time.perf_counter() - t0)
            done.append(i)
            if after is not None:
                after(i, result)
        i += 1
    return lat, done


def host_ref_ms() -> float:
    """Median time of a fixed pure-Python loop: the host's current speed,
    printed next to the results (the program's code never runs here)."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)


def measure(run: Run, op, min_ops: int, after=None, round_len: int = 1,
            limit: int = None) -> tuple[list, list]:
    """The timed loop (see `_loop`); returns latencies and operation
    indices. An untraced run patches nothing. A traced run alternates
    untraced and traced rounds, so every kind of operation is measured both
    ways; the first, untraced round (which may still be cold) is left out
    of the comparison. It reports the ratio of the two groups' median
    latencies as the tracing overhead, and returns only the traced
    operations, which its layer metrics describe."""
    if not run.trace:
        before = host_ref_ms()
        out = _loop(run, op, min_ops, after, round_len, limit)
        run.info["host_ref_ms"] = [before, host_ref_ms()]
        return out
    run.tracer = Tracer()
    patch_layers(run.tracer)
    try:
        lat, done = _loop(run, op, max(min_ops, 3 * round_len), after,
                          round_len, limit)
    finally:
        run.tracer.restore()
        run.tracer.enabled = False
    rounds = [i // round_len for i in done]
    on = [(x, i) for x, i, r in zip(lat, done, rounds) if r % 2 == 1]
    off = [x for x, r in zip(lat, rounds) if r % 2 == 0 and r > 0]
    run.layers["trace.overhead_ratio"] = (
        statistics.median(x for x, _ in on) / statistics.median(off)
        if on and off else 0.0)
    run.info["traced_ops"] = len(on)
    return [x for x, _ in on], [i for _, i in on]


def spark_layer(run: Run, groups: list, names: dict) -> None:
    """Mean per-group Spark counters, stored under the metric names given
    by `names` (a counter field, or a tuple of fields to add up)."""
    tot = dict.fromkeys(SPARK_FIELDS, 0.0)
    for g in groups:
        for k, v in spark_counters(run.spark.sparkContext, g).items():
            tot[k] += v
    n = max(len(groups), 1)
    for fields, metric in names.items():
        fields = fields if isinstance(fields, tuple) else (fields,)
        run.layers[metric] = sum(tot[f] for f in fields) / n


def trace_layers(run: Run, n_ops: int) -> None:
    """Per-operation layer metrics from the tracer's spans and counters."""
    tr = run.tracer
    if tr is None:
        return
    st, tot, c = tr.self_times(), tr.total_times(), tr.counts
    n = max(n_ops, 1)

    def ms(name, table=st):
        return table.get(name, 0.0) * 1000.0 / n

    run.layers.update({
        "tokenizer.query_ms": ms("tokenizer.query", tot),
        "codec.decode_ms": ms("codec.decode"),
        "codec.decoded_values": c["decoded_values"] / n,
        "search.segment_read_ms": ms("search.segment_read"),
        "search.segment_rows_read": c["segment_rows_read"] / n,
        "search.term_read_ratio": (c["terms_read"] / c["terms_queried"]
                                   if c["terms_queried"] else 0.0),
        "search.wand_self_ms": ms("search.wand"),
        "search.positions_ms": ms("search.positions"),
        "service.search_self_ms": ms("service.search"),
        "facets.filter_ms": ms("facets.filter"),
        "facets.facet_ms": ms("facets.facet"),
        "facets.sort_ms": ms("facets.sort"),
        "typo.expand_ms": ms("typo.expand"),
        "typo.variants_per_word": (c["typo_variants"] / c["typo_words"]
                                   if c["typo_words"] else 0.0),
    })
    run.info["trace_spans"] = len(tr.spans)
    tr.dump(os.path.join(run.cache_dir, f"spans-{run.workload}-s{run.seed}.jsonl"))


# ---------------------------------------------------------------------------
# the serving index: one per code version, reused across runs
# ---------------------------------------------------------------------------

SERVE_DOCS = {"bm25": BM25_DOCS, "rules": CORPUS_DOCS}


def serve_corpus(kind: str, run: Run) -> str:
    return cached("corpus", SERVE_DOCS[kind], SERVE_DATA_SEED, run.cache_dir)


def bm25_oracle(run: Run) -> dict:
    """Tail terms of the bm25 serving corpus and the oracle's top-10 on the
    fixed gate sample, written next to its index (see `serve_index`)."""
    with open(os.path.join(run.cache_dir, f"serve-bm25-{run.code_key}.oracle.json")) as f:
        return json.load(f)


def serve_index(kind: str, run: Run) -> str:
    """Index of a serving corpus, built once per code version (keyed by a
    hash of the program's sources) and read-only afterwards; the build
    workload measures building. `bm25`: posting segments only, plus the
    brute-force oracle's answers on the gate sample, computed in a child
    process during the build. `rules`: also positions, typo variants, the
    `lang`/`n_chars` attribute store and the `lang` attribute index."""
    from sparkft.facets import write_attribute_index, write_attribute_store
    from sparkft.index_build import build_index

    final = os.path.join(run.cache_dir, f"serve-{kind}-{run.code_key}")
    oracle = f"{final}.oracle.json" if kind == "bm25" else None
    if os.path.exists(f"{final}/stats.json") and (oracle is None or os.path.exists(oracle)):
        return final
    path = serve_corpus(kind, run)
    proc = start_input("corpus", SERVE_DOCS[kind], SERVE_DATA_SEED, run.cache_dir,
                       topk=oracle)
    if not os.path.exists(f"{final}/stats.json"):
        tmp = f"{final}.building"
        shutil.rmtree(tmp, ignore_errors=True)
        df = run.spark.read.parquet(path)
        t0 = time.perf_counter()
        if kind == "bm25":
            build_index(run.spark, df.select("doc_id", "content"), tmp, doc_id_col="doc_id")
        else:
            df = df.select("doc_id", "content", "lang", "n_chars")
            write_attribute_store(run.spark, df, tmp, cols=("lang", "n_chars"))
            write_attribute_index(run.spark, df, tmp, cols=("lang",))
            build_index(run.spark, df, tmp, doc_id_col="doc_id",
                        index_positions=True, typo_variants=True)
        run.info[f"serve_{kind}_index_built_s"] = time.perf_counter() - t0
        os.replace(tmp, final)
    if proc is not None and proc.wait(timeout=170) != 0:
        raise RuntimeError(f"computing the {kind} oracle failed")
    return final


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def build(run: Run) -> None:
    import pyarrow.parquet as pq

    from sparkft.index_build import build_index

    oracle_path = os.path.join(run.cache_dir, "inputs", f"oracle-{run.code_key}-"
                               f"n{CORPUS_DOCS}-s{run.seed}.json")
    prep = start_input("corpus", CORPUS_DOCS, run.seed, run.cache_dir, stats=oracle_path)
    spark = run.spark  # starts while the corpus and its oracle are prepared
    path = cached("corpus", CORPUS_DOCS, run.seed, run.cache_dir, prep)
    tbl = pq.read_table(path)
    in_bytes = text_bytes(path, "content")
    in_mib = in_bytes / 2**20
    run.info["corpus"] = {"docs": tbl.num_rows, "mib": in_mib}

    # set-up: load the corpus as a DataFrame (the documented corpus schema;
    # doc ids derive from (repo, path, commit)) and count it
    setups = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        df = spark.read.parquet(path).select("repo", "path", "commit", "lang", "content")
        df.count()
        setups.append(time.perf_counter() - t0)
    run.e2e["setup_s"] = statistics.median(setups)

    results, timings, groups, dirs = [], [], [], []

    def op(i):
        out = run.fresh_dir("build")
        run.job_group(groups, f"build-{i}")
        return out, build_index(spark, df, out, index_positions=True)

    def after(i, result):
        out, res = result
        results.append(res)
        if run.tracing:
            with open(f"{out}/stats.json") as f:
                timings.append(json.load(f)["stage_timings"])
        dirs.append(out)
        if len(dirs) > 1:  # keep only the newest index on disk
            shutil.rmtree(dirs.pop(0), ignore_errors=True)

    lat, _ = measure(run, op, MIN_BUILDS, after)
    run.e2e["peak_rss_mb"] = peak_rss_mb()
    latency_metrics(run, lat, BUILD_TAIL)
    run.e2e["ops_per_s"] = len(lat) / sum(lat) if lat else 0.0
    seg = du(f"{dirs[-1]}/segments") if dirs else 0
    pos = du(f"{dirs[-1]}/positions") if dirs else 0
    run.e2e["index_bytes_per_input_byte"] = (seg + pos) / in_bytes
    run.info["build_mib_per_s"] = in_mib / statistics.median(lat) if lat else 0.0

    if run.trace:
        stages = (("stage1_s", "stage1_s"), ("sha_verify_s", "sha_verify_s"),
                  ("stats_hot_s", "stats_s"), ("posting_build_s", "posting_build_s"),
                  ("positions_s", "positions_s"), ("finalize_s", "finalize_s"))
        for key, metric in stages:
            run.layers[f"index_build.{metric}"] = (
                statistics.mean(t.get(key, 0.0) for t in timings) if timings else 0.0)
        run.layers["index_build.segment_bytes"] = float(seg)
        run.layers["index_build.positions_bytes"] = float(pos)
        spark_layer(run, groups, {
            "jobs": "index_build.spark_jobs",
            "executor_run_s": "index_build.executor_run_s",
            "shuffle_write_bytes": "index_build.shuffle_write_bytes",
            "spill_bytes": "index_build.spill_bytes",
            "gc_ms": "index_build.gc_ms",
        })
        # tokenizer kernel throughput: one process, a corpus sample
        from sparkft.tokenizer import tokenize_batch

        sample = tbl.column("content").to_pylist()[:800]
        mib = sum(len(s.encode()) for s in sample) / 2**20
        tokenize_batch(sample)  # loads the dictionaries
        t0 = time.perf_counter()
        tokenize_batch(sample)
        run.layers["tokenizer.mib_per_s_core"] = mib / (time.perf_counter() - t0)

    # gate: index statistics equal the brute-force oracle's
    with open(oracle_path) as f:
        want = json.load(f)
    want = (want["n_docs"], want["n_tokens"], want["n_postings"])
    got = [(r.n_docs, r.n_tokens, r.n_postings) for r in results]
    run.gate("build_stats_match_oracle", bool(got) and all(g == want for g in got),
             f"oracle (n_docs, n_tokens, n_postings)={want}, builds={got}")

    # after every measurement: the first build run of a code version also
    # prepares the serving indexes, so the serving workloads find them
    for kind in SERVE_DOCS:
        serve_index(kind, run)


# ---------------------------------------------------------------------------
# serve_rules
# ---------------------------------------------------------------------------

def _hits(res: dict) -> tuple:
    facets = res.get("facetDistribution", {})
    return (tuple((h["doc_id"], h.get("score")) for h in res["hits"]),
            tuple(sorted((k, tuple(sorted(v.items()))) for k, v in facets.items())))


def serve_rules(run: Run) -> None:
    from sparkft.index_build import delete_docs
    from sparkft.service import IndexSettings, SearchService

    import pyarrow.parquet as pq

    path = serve_corpus("rules", run)
    tbl = pq.read_table(path)
    # deletes write tombstones, so the run serves its own copy of the index
    idx = run.fresh_dir("rules")
    shutil.copytree(serve_index("rules", run), idx)
    settings = IndexSettings(typo_tolerance=True, matching_strategy="last",
                             filterable_attributes=("lang",),
                             sortable_attributes=("n_chars",))
    # the streams last until every doc is deleted: a delete batch follows
    # every DELETE_EVERY-th search for as long as the run goes on
    batches = delete_batches(run.seed, tbl.column("doc_id").to_numpy(), DELETE_BATCH)
    tails = tail_terms(tbl.column("content").to_pylist())
    stream = rules_requests(run.seed, len(batches) * DELETE_EVERY, tails)
    # the first search after each reopen comes from a fixed probe stream:
    # its latency depends on the request (26-340 ms), and ~30 seeded draws
    # per run would make the reopen figure move with the seed
    probes = rules_requests(PROBE_SEED, len(batches), tails)

    def request(i):
        return probes[i // DELETE_EVERY - 1] if i and i % DELETE_EVERY == 0 else stream[i]

    # set-up: open the service and warm it on one pass over every request
    # kind, several times
    opens = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        svc = SearchService(idx, settings)
        for req in stream[-20:]:
            svc.search(req["q"], 10, **req["kw"])
        opens.append(time.perf_counter() - t0)
    run.e2e["setup_s"] = statistics.median(opens)

    state = {"svc": svc, "epoch": 0, "reopened": False}
    deleted: set = set()
    reopen_lat, reopen_ms, samples, leaked = [], [], [], []

    def op(i):
        req = request(i)
        return state["svc"].search(req["q"], 10, **req["kw"])

    def timed(i):
        t0 = time.perf_counter()
        res = op(i)
        if state["reopened"]:  # first search after a reopen
            reopen_lat.append(time.perf_counter() - t0)
            state["reopened"] = False
        return res

    def after(i, res):
        ids = {h["doc_id"] for h in res["hits"]}
        if ids & deleted:
            leaked.append((i, sorted(ids & deleted)))
        if i % 7 == 0:
            samples.append((state["epoch"], i, _hits(res)))
        if (i + 1) % DELETE_EVERY == 0:
            batch = batches[state["epoch"]]
            delete_docs(idx, batch)
            deleted.update(batch)
            t0 = time.perf_counter()
            state["svc"] = SearchService(idx, settings)
            reopen_ms.append((time.perf_counter() - t0) * 1000)
            state["epoch"] += 1
            state["reopened"] = True

    t_loop = time.perf_counter()
    lat, _ = measure(run, timed, MIN_SEARCHES, after, limit=len(stream))
    loop_s = time.perf_counter() - t_loop
    run.e2e["peak_rss_mb"] = peak_rss_mb()
    latency_metrics(run, lat, SEARCH_TAIL)
    # the tail metric is the median first search after a reopen: these
    # searches make the tail, and their median reads about twice as steady
    # across runs as a high percentile over all searches, which stays in info
    run.info["search_tail_ms"] = run.e2e["op_tail_ms"]
    run.e2e["op_tail_ms"] = pct([x * 1000 for x in reopen_lat]
                                + [float("inf")] * run.failed, 50)
    # throughput mode: searches per second over the whole loop, including
    # the delete-and-reopen cycles
    run.e2e["ops_per_s"] = len(lat) / loop_s
    run.e2e["index_bytes_per_input_byte"] = sum(
        du(f"{idx}/{d}") for d in ("segments", "positions", "typo_variants",
                                   "attrs", "attr_index")) / text_bytes(path, "content")
    run.info["reopens"] = len(reopen_lat)
    trace_layers(run, len(lat))
    if run.trace:
        run.layers["service.reopen_ms"] = statistics.median(reopen_ms) if reopen_ms else 0.0

    used = [request(i) for i in range(run.attempted)]
    langs = np.asarray(tbl.column("lang").to_pylist())
    filters = [r["kw"]["filter"][1] for r in used if r["kind"] == "filter"]
    run.info["properties"] = {
        "kind_mix": {k: sum(r["kind"] == k for r in used) / len(used)
                     for k in ("plain", "filter", "facet", "sort")},
        "typo_share": sum(r["typo"] for r in used) / len(used),
        "filter_selectivity": float(np.mean([np.mean(langs == v) for v in filters]))
        if filters else 0.0,
        "deleted_docs": len(deleted),
    }

    # gates: no deleted id is ever served; the warm service agrees with a
    # freshly opened one on the searches sampled since the last reopen and
    # on a fixed sample run now
    run.gate("no_deleted_hits", not leaked, f"{len(leaked)} searches, e.g. {leaked[:2]}")
    fresh = SearchService(idx, settings)
    checks = [(i, h) for e, i, h in samples if e == state["epoch"]]
    checks += [(i, _hits(op(i))) for i in range(GATE_REQUESTS)]
    bad = []
    for i, h in checks:
        req = request(i)
        if _hits(fresh.search(req["q"], 10, **req["kw"])) != h:
            bad.append(req["q"])
    run.gate("warm_matches_fresh_service", not bad,
             f"{len(bad)} of {len(checks)} differ, e.g. {bad[:3]}")


# ---------------------------------------------------------------------------
# entry_mix
# ---------------------------------------------------------------------------

def _entry_sf_dir(run: Run) -> str:
    sf = os.path.join(run.cache_dir, f"entry-sf-n{ENTRY_DOCS}-s{ENTRY_DATA_SEED}")
    if not os.path.exists(f"{sf}/documents.parquet"):
        src = cached("documents", ENTRY_DOCS, ENTRY_DATA_SEED, run.cache_dir)
        os.makedirs(sf, exist_ok=True)
        shutil.copyfile(src, f"{sf}/documents.parquet.tmp")
        os.replace(f"{sf}/documents.parquet.tmp", f"{sf}/documents.parquet")
    return sf


def entry_mix(run: Run) -> None:
    import __spark_entry__ as entry
    from sparkft import search

    spark = run.spark
    sf = _entry_sf_dir(run)
    qs = entry.queries()
    k = run.seed % len(ENTRIES)
    order = ENTRIES[k:] + ENTRIES[:k]
    last_rows: dict = {}
    split = {"construct": [], "collect": []}
    groups: list = []

    def call(name: str):
        t0 = time.perf_counter()
        frame = qs[name](spark, sf)
        t1 = time.perf_counter()
        rows = frame.collect()
        if run.tracing:
            split["construct"].append(t1 - t0)
            split["collect"].append(time.perf_counter() - t1)
        return frame.columns, rows

    # set-up: the first call of every entry in this process, which brings
    # up the program's caches (and, once per code version, its engine index)
    first = {}
    for name in order:
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            last_rows[name] = call(name)
        except Exception:
            run.failed += 1
            traceback.print_exc()
        first[name] = time.perf_counter() - t0
    run.e2e["setup_s"] = sum(first.values())
    run.info["first_call_s"] = first

    def op(i):
        name = order[i % len(order)]
        run.job_group(groups, f"entry-{i}")
        return name, call(name)

    # throughput mode: seeded BM25 top-10 queries over the 50k-doc index,
    # served on the driver by block-max WAND on a reader warmed on every
    # head term, in blocks of WAND_BLOCK queries run between the entry
    # calls, so that they sample the host over the whole loop
    idx = serve_index("bm25", run)
    oracle = bm25_oracle(run)
    reader = search.IndexReader(None, idx)
    for w in KEYWORDS + STEMS:
        search.wand_topk(reader, w, 10)
    # every block holds WAND_HEAVY heavy queries, which cost the most: drawn
    # freely, their share moved from 4% to 10% with the seed, and the
    # blocks' speed with it
    dfs = reader.term_dictionary()
    heavy, light = [], []
    for s in bm25_queries(run.seed, oracle["tails"]):
        postings = sum(dfs.get(t, 0) for t in set(s["terms"]))
        (heavy if postings > HEAVY_POSTINGS else light).append(s)
    n_light = WAND_BLOCK - WAND_HEAVY
    stream = [s for b in range(min(len(heavy) // WAND_HEAVY, len(light) // n_light))
              for s in heavy[b * WAND_HEAVY:(b + 1) * WAND_HEAVY]
              + light[b * n_light:(b + 1) * n_light]]
    hits, block_s = [], []
    blocks = {"blocks_decoded": 0, "blocks_total": 0}

    def wand_block():
        traced = run.tracing
        if traced:  # the layer metrics stay per entry call
            run.tracer.enabled = False
        if len(hits) + WAND_BLOCK > len(stream):
            raise RuntimeError("entry_mix: the WAND query stream ran out")
        t0 = time.perf_counter()
        for s in stream[len(hits):len(hits) + WAND_BLOCK]:
            run.attempted += 1
            st: dict = {}
            try:
                # a traced run counts the blocks WAND decodes
                hits.append(search.wand_topk(reader, s["q"], 10, stats=st) if run.trace
                            else search.wand_topk(reader, s["q"], 10))
            except Exception:
                run.failed += 1
                traceback.print_exc()
                hits.append(None)
            for key in st.keys() & blocks.keys():
                blocks[key] += st[key]
        block_s.append(time.perf_counter() - t0)
        if traced:
            run.tracer.enabled = True

    def after(i, result):
        last_rows[result[0]] = result[1]
        if i % WAND_EVERY == WAND_EVERY - 1:
            wand_block()

    # one operation of this workload is a round, one call of each entry:
    # the entries are timed one by one and added up per round. A round with
    # a failed entry is left out; the failure counts as an infinite latency.
    n = len(order)
    lat, done = measure(run, op, ENTRY_ROUNDS * n, after, round_len=n)
    per_round: dict = {}
    per_entry: dict = {}
    for x, i in zip(lat, done):
        per_round.setdefault(i // n, []).append(x)
        per_entry.setdefault(order[i % n], []).append(x * 1000)
    latency_metrics(run, [sum(v) for v in per_round.values() if len(v) == n], ENTRY_TAIL)
    run.info["entry_p50_ms"] = pct([x * 1000 for x in lat], 50)
    run.info["entry_median_ms"] = {k: statistics.median(v) for k, v in per_entry.items()}
    # the typical round is the sum of each entry's median call: a slow
    # stretch of the host that spans parts of two rounds then moves it less
    # than it moves the median of the round sums (kept in info)
    run.info["round_p50_ms"] = run.e2e["op_p50_ms"]
    run.e2e["op_p50_ms"] = (sum(run.info["entry_median_ms"].values())
                            if not run.failed and len(per_entry) == n else float("inf"))
    trace_layers(run, len(lat))
    if run.trace:
        n = max(len(split["collect"]), 1)
        run.layers["spark_entry.construct_ms"] = sum(split["construct"]) * 1000 / n
        run.layers["spark_entry.collect_ms"] = sum(split["collect"]) * 1000 / n
        spark_layer(run, groups, {
            "jobs": "spark_entry.jobs_per_entry",
            "stages": "spark_entry.stages_per_entry",
            ("shuffle_read_bytes", "shuffle_write_bytes"): "spark_entry.shuffle_bytes",
            "gc_ms": "spark_entry.gc_ms",
        })

    # queries/s of the median block: every block has the same heavy share,
    # and the median leaves out blocks the host slowed down
    run.e2e["ops_per_s"] = WAND_BLOCK / statistics.median(block_s)
    run.info["wand_qps_all_blocks"] = len(hits) / sum(block_s)
    stream = stream[:len(hits)]

    # the same queries' first BATCH_QUERIES, fanned out over the executors
    # through distributed_topk (timed for the info line only)
    batch = [s["q"] for s in stream[:BATCH_QUERIES]]
    bgroups, batch_rows = [], None
    run.job_group(bgroups, "batch", counted=True)
    run.attempted += 1
    t0 = time.perf_counter()
    try:
        batch_rows = search.distributed_topk(
            spark, idx, batch, k=10, parallelism=run.nproc).collect()
        run.info["batch_qps"] = len(batch) / (time.perf_counter() - t0)
    except Exception:
        run.failed += 1
        traceback.print_exc()
    run.e2e["peak_rss_mb"] = peak_rss_mb()
    if run.trace:
        spark_layer(run, bgroups, {"jobs": "search.batch_spark_jobs",
                                   "executor_run_s": "search.batch_executor_run_s"})
    engine_idx = entry._engine_index(spark, sf)
    run.e2e["index_bytes_per_input_byte"] = du(engine_idx) / text_bytes(
        f"{sf}/documents.parquet", "text")

    # gates: every entry's rows equal its DuckDB oracle (normalised as the
    # repository's entry checker does), and the distributed batch equals
    # driver-side WAND
    import duckdb

    import check_entry

    oq = entry.oracle_sql()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    bad = []
    for name in order:
        if name not in last_rows:
            bad.append(f"{name}: no result")
            continue
        cols, rows = last_rows[name]
        res = con.sql(oq[name])
        ocols = [d[0] for d in res.description]
        if check_entry.norm_rows(cols, [tuple(r) for r in rows]) != \
                check_entry.norm_rows(ocols, res.fetchall()):
            bad.append(name)
    con.close()
    run.gate("entries_match_oracle", not bad, f"{bad}")

    # driver-side WAND on a freshly opened reader equals the brute-force
    # oracle on the fixed sample, and the distributed batch equals the
    # timed loop's driver-side results
    fresh = search.IndexReader(None, idx)
    bad = [q for q, want in oracle["gate"]
           if [list(hit) for hit in search.wand_topk(fresh, q, 10)] != want]
    run.gate("wand_matches_oracle", bool(oracle["gate"]) and not bad,
             f"{len(bad)} queries differ, e.g. {bad[:3]}")
    want = sorted((qid, rank, d, sc) for qid, h in enumerate(hits[:BATCH_QUERIES])
                  for rank, (d, sc) in enumerate(h or [], 1))
    got = sorted((r["qid"], r["rank"], r["doc_id"], r["score"]) for r in batch_rows or [])
    run.gate("distributed_matches_driver", got == want,
             f"{len(got)} rows vs {len(want)} driver rows")

    # properties of the WAND queries
    postings = [sum(dfs.get(t, 0) for t in set(s["terms"])) for s in stream]
    props = {
        "term_count_mix": {k: sum(len(s["terms"]) == k for s in stream) / len(stream)
                           for k in (1, 2, 3, 4)},
        "tail_share": sum(s["tail"] for s in stream) / len(stream),
        "postings_per_query": sum(postings) / len(stream),
    }
    cutoff = getattr(search, "_EXHAUSTIVE_CUTOFF", None)  # WAND's bulk-decode cutoff
    if cutoff is not None:
        props["over_exhaustive_cutoff_share"] = sum(p > cutoff for p in postings) / len(stream)
    run.info["wand_properties"] = props
    if run.trace:
        run.layers["search.postings_per_query"] = props["postings_per_query"]
        run.layers["search.blocks_decoded_ratio"] = (
            blocks["blocks_decoded"] / blocks["blocks_total"] if blocks["blocks_total"] else 0.0)


WORKLOADS = {
    "build": build,
    "serve_rules": serve_rules,
    "entry_mix": entry_mix,
}

"""Spans and counters recorded from outside the program.

The tracer wraps public functions of the `sparkft` layers for the duration
of a traced run and restores them afterwards; untraced runs never patch
anything. While `enabled` is false the wrappers call straight through, so a
traced run can interleave traced and untraced operations. Each span holds
(name, start, end, parent span, request id) and stays in memory until
`dump` writes them out. A span's self time is its
duration minus the time its child spans cover; spans nest on one thread,
so children never overlap and their durations simply add up.

Spark counters come from the status tracker and status store: each
operation runs under its own job group, and `spark_counters` sums the
stage metrics of that group's jobs.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent, request]
        self.counts: dict = defaultdict(float)
        self.request = 0
        self.enabled = True
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    # ---- spans -----------------------------------------------------------
    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.request])
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack.pop()

    def new_request(self) -> None:
        self.request += 1

    def wrap(self, name: str, fn, count=None):
        """`fn` recording a span named `name`; `count(result, args)` may add
        counters (a dict of name -> amount) at the same boundary."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            idx = self.begin(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.end(idx)
            if count is not None:
                for k, v in count(result, args).items():
                    self.counts[k] += v
            return result

        return traced

    # ---- patching ----------------------------------------------------------
    def patch(self, owner, attr: str, name: str, count=None) -> None:
        """Replace `owner.attr` (a module function or a class method) with a
        traced wrapper. For a module function, every loaded `sparkft` module
        that imported the same object by name is patched too."""
        original = owner.__dict__[attr]
        traced = self.wrap(name, original, count)
        targets = [owner]
        if not isinstance(owner, type):
            targets += [m for n, m in list(sys.modules.items())
                        if m is not None and m is not owner
                        and (n.startswith("sparkft") or n == "__spark_entry__")
                        and getattr(m, "__dict__", {}).get(attr) is original]
        for t in targets:
            setattr(t, attr, traced)
            self._patched.append((t, attr, original))

    def restore(self) -> None:
        for t, attr, original in reversed(self._patched):
            setattr(t, attr, original)
        self._patched.clear()

    # ---- results -----------------------------------------------------------
    def self_times(self) -> dict:
        """Total self time in seconds per span name."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict = defaultdict(float)
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            out[name] += (t1 - t0) - child[i]
        return out

    def total_times(self) -> dict:
        """Total inclusive duration in seconds per span name, counting only
        the outermost span where a name nests in itself."""
        out: dict = defaultdict(float)
        for name, t0, t1, parent, _ in self.spans:
            p = parent
            while p >= 0 and self.spans[p][0] != name:
                p = self.spans[p][3]
            if p < 0:
                out[name] += t1 - t0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, req in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1,
                                    "parent": parent, "request": req}) + "\n")


def patch_layers(tr: Tracer) -> None:
    """Spans at the public boundaries of the serving layers."""
    from sparkft import codec, facets, search, service, tokenizer, typo

    tr.patch(tokenizer, "tokenize_batch", "tokenizer.batch")
    tr.patch(search.IndexReader, "query_terms", "tokenizer.query",
             lambda r, a: {"terms_queried": len(r)})
    tr.patch(search.IndexReader, "load_segment_rows", "search.segment_read",
             lambda r, a: {"segment_rows_read": sum(len(p) for p in r.values()),
                           "terms_read": len(a[1])})
    tr.patch(codec, "decode_varints", "codec.decode",
             lambda r, a: {"decoded_values": len(r)})
    tr.patch(search, "wand_topk", "search.wand")
    tr.patch(search, "wand_topk_terms", "search.wand")
    tr.patch(search, "_load_positions", "search.positions")
    tr.patch(service.SearchService, "search", "service.search")
    tr.patch(service.SearchService, "_allowed", "facets.filter")
    tr.patch(facets, "facet_counts", "facets.facet")
    tr.patch(facets, "sort_topk", "facets.sort")
    for cls in (typo.SymSpellIndex, typo.PrecomputedSymSpell):
        for meth in ("expand", "expand_with_distance"):
            tr.patch(cls, meth, "typo.expand",
                     lambda r, a: {"typo_words": 1, "typo_variants": len(r)})


# ---------------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------------

SPARK_FIELDS = ("jobs", "stages", "executor_run_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "gc_ms")


def spark_counters(sc, group: str) -> dict:
    """Summed stage metrics of every job run under job group `group`."""
    out = dict.fromkeys(SPARK_FIELDS, 0.0)
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            out["stages"] += 1
            sd = store.lastStageAttempt(sid)
            out["executor_run_s"] += sd.executorRunTime() / 1000.0
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["gc_ms"] += sd.jvmGcTime()
    return out

"""Pure-Python core of the benchmark: the metric catalogue, interval
arithmetic for span self time, and the percentile helper.

Nothing here imports Spark, so the self-tests run without a JVM.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

# Layers are the frontier_engine modules on the measured path, plus
# ``session`` for the JVM.
LAYERS = (
    "crawler", "schedule", "fetch", "parse", "canon", "seen", "seen_store",
    "robots", "metrics", "snapshots", "streaming", "html_text", "textops",
    "session",
)
LAYER_STATS = (
    ("wall_s", "s"), ("self_s", "s"), ("driver_s", "s"),
    ("jobs", "count"), ("task_s", "s"), ("shuffle_bytes", "B"),
)
# Layers that define Python UDFs; a UDF's time goes to the module that
# defines it.
UDF_LAYERS = ("seen", "robots", "streaming", "html_text")
COUNTS = (
    ("crawler.jobs_per_round", "count"),
    ("crawler.frontier_compactions", "count"),
    ("fetch.hit_ratio", "ratio"),
    ("seen.new_ratio", "ratio"),
    ("seen_store.compactions", "count"),
    ("seen_store.bytes_rewritten", "B"),
    ("snapshots.files_written", "count"),
    ("textops.minhash.dup_ratio", "ratio"),
    ("session.gc_s", "s"),
)
END_TO_END = (
    ("pages_per_s", "1/s"),
    ("round_s.p50", "s"),
    ("setup_s", "s"),
    ("bytes_written_per_page", "B"),
    ("peak_rss_mb", "MB"),
)
# The traced run repeats the end-to-end metrics under this prefix, so the
# tracing overhead is the traced value minus the untraced run's value.
TRACED_PREFIX = "traced."

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")


def per_layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) of every metric a traced run prints, in print order."""
    out = [(f"{layer}.{stat}", unit) for layer in LAYERS for stat, unit in LAYER_STATS]
    out += [(f"{layer}.udf_s", "s") for layer in UDF_LAYERS]
    out += list(COUNTS)
    out += [(TRACED_PREFIX + name, unit) for name, unit in END_TO_END]
    return out


def percentile(values: list[float], q: float) -> float:
    """The q-th percentile (0..100) with linear interpolation between the
    two nearest ranks; the 50th is the median."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0..100")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# ---- intervals ------------------------------------------------------------

def merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Sorted, disjoint union of half-open intervals (empty ones dropped)."""
    out: list[list[float]] = []
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def length(intervals: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in merge(intervals))


def subtract(base: list[tuple[float, float]], cuts: list[tuple[float, float]]):
    """Parts of *base* not covered by *cuts*."""
    out = []
    cuts = merge(cuts)
    for a, b in merge(base):
        cur = a
        for c, d in cuts:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
            if cur >= b:
                break
        if cur < b:
            out.append((cur, b))
    return out


def clip(iv: tuple[float, float], window: tuple[float, float]) -> tuple[float, float]:
    a, b = max(iv[0], window[0]), min(iv[1], window[1])
    return (a, b) if b > a else (a, a)


# ---- spans ----------------------------------------------------------------

@dataclass
class Span:
    """One call into a layer's public function. ``parent`` is the index of
    the span that was open when this one started, or None."""

    layer: str
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    children: list[int] = field(default_factory=list)


def link_children(spans: list[Span]) -> None:
    for s in spans:
        s.children.clear()
    for i, s in enumerate(spans):
        if s.parent is not None:
            spans[s.parent].children.append(i)


def self_intervals(spans: list[Span], i: int, window: tuple[float, float]):
    """Span *i*'s time inside *window* that no child span covers."""
    s = spans[i]
    return subtract(
        [clip((s.start, s.end), window)],
        [clip((spans[c].start, spans[c].end), window) for c in s.children],
    )


def layer_times(
    spans: list[Span],
    window: tuple[float, float],
    job_intervals: list[tuple[float, float]] = (),
) -> dict[str, dict[str, float]]:
    """Per layer, inside *window*: ``wall_s`` (union of the layer's spans),
    ``self_s`` (that time minus child spans of any layer) and ``driver_s``
    (self time during which no Spark job ran)."""
    link_children(spans)
    jobs = merge([clip(iv, window) for iv in job_intervals])
    out: dict[str, dict[str, float]] = {}
    walls: dict[str, list] = {}
    for i, s in enumerate(spans):
        d = out.setdefault(s.layer, {"wall_s": 0.0, "self_s": 0.0, "driver_s": 0.0})
        walls.setdefault(s.layer, []).append(clip((s.start, s.end), window))
        own = self_intervals(spans, i, window)
        d["self_s"] += length(own)
        d["driver_s"] += length(subtract(own, jobs))
    for layer, ivs in walls.items():
        out[layer]["wall_s"] = length(ivs)
    return out


def covered(spans: list[Span], window: tuple[float, float]) -> float:
    """Time inside *window* covered by any span."""
    return length([clip((s.start, s.end), window) for s in spans])


def innermost_at(spans: list[Span], t: float) -> str | None:
    """Layer of the latest-started span open at time *t*."""
    best = None
    for s in spans:
        if s.start <= t < s.end and (best is None or s.start >= best.start):
            best = s
    return best.layer if best else None

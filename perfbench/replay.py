"""Pure-Python oracle for the firehose workloads' final state.

Replays the seeded records through the gauge-registry semantics the
engine implements (`metric_latest_value_stream` + `to_prometheus_text`):
one gauge child per (metric name, label vector without the filtered
`unit` tag), last value by (timestamp, id), rendered as the exposition
line key `{component}_{name}{k="v",...}` with keys sorted.
"""

from __future__ import annotations

FILTERED_TAGS = ("unit",)


def line_key(name: str, component: str, tags: dict[str, str]) -> str:
    full = f"{component}_{name}" if component else name
    pairs = sorted((k, v) for k, v in tags.items() if k not in FILTERED_TAGS)
    if not pairs:
        return full
    return full + "{" + ",".join(f'{k}="{v}"' for k, v in pairs) + "}"


def replay_last_values(records) -> dict[str, float]:
    """{exposition line key: last value} over an iterable of records."""
    best: dict[tuple, tuple] = {}
    for r in records:
        tags = r["tags"] or {}
        skey = (r["name"], tuple(sorted(
            (k, v) for k, v in tags.items() if k not in FILTERED_TAGS
        )))
        order = (r["timestamp"], r["id"])
        cur = best.get(skey)
        if cur is None or order > cur[0]:
            best[skey] = (order, line_key(r["name"], r["component"], tags),
                          float(r["value"]))
    return {key: v for _, key, v in best.values()}


def parse_exposition(text: str) -> dict[str, float]:
    """{line key: value} of a Prometheus text payload (comments and
    blank lines skipped). Label values here never contain spaces."""
    out: dict[str, float] = {}
    for line in text.splitlines():
        if not line or line.startswith("#"):
            continue
        key, _, value = line.rpartition(" ")
        out[key] = float(value)
    return out


def diff_states(got: dict[str, float], want: dict[str, float]) -> list[str]:
    """Human-readable differences, empty when the states are equal."""
    probs = []
    for k in sorted(set(want) - set(got))[:3]:
        probs.append(f"missing series {k}")
    for k in sorted(set(got) - set(want))[:3]:
        probs.append(f"unexpected series {k}")
    bad = [k for k in want if k in got and got[k] != want[k]]
    for k in sorted(bad)[:3]:
        probs.append(f"{k}: got {got[k]!r}, want {want[k]!r}")
    extra = len(set(want) ^ set(got)) + len(bad) - len(probs)
    if extra > 0:
        probs.append(f"... and {extra} more")
    return probs

"""Self-time arithmetic over a traced run's spans.

A span is a dict with `id`, `name`, `parent` (0 for none), `start` and `end`
in seconds. The self time of a span is its duration minus the time covered
by its children. Children are first clipped to their parent, and siblings
that overlap (concurrent Spark jobs) are clipped to start where the previous
one ended, so every instant of a root span is charged to exactly one span and
the self times of a tree add up to the root's duration.
"""


def layer(name):
    """The layer a span's self time is charged to."""
    if name in ("run", "pass"):
        return "harness"
    if name == "spark.job" or name.startswith("exec."):
        return "exec"
    if name.startswith("mix."):
        q, _, stage = name[4:].partition(".")
        return {"plan": "catalyst", "exec": "exec"}.get(stage, f"mix.{q}")
    return name.split(".")[0]


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total, cur = 0.0, None
    for lo, hi in sorted(intervals):
        if cur and lo <= cur[1]:
            cur[1] = max(cur[1], hi)
        else:
            total += cur[1] - cur[0] if cur else 0.0
            cur = [lo, hi]
    return total + (cur[1] - cur[0] if cur else 0.0)


def attach_orphans(spans):
    """Give parentless jobs (submitted from threads that carried no span) the
    innermost non-job span that contains their start."""
    frames = [s for s in spans if s["name"] != "spark.job"]
    for s in spans:
        if s["name"] == "spark.job" and not s["parent"]:
            inside = [f for f in frames if f["start"] <= s["start"] <= f["end"]]
            if inside:
                s["parent"] = max(inside, key=lambda f: f["start"])["id"]
    return spans


def self_times(spans):
    """{span id: self time} for every span."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}

    def visit(s, lo, hi):
        covered, cursor = 0.0, lo
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            c_lo, c_hi = max(c["start"], cursor), min(c["end"], hi)
            if c_hi > c_lo:
                covered += c_hi - c_lo
                cursor = c_hi
                visit(c, c_lo, c_hi)
            else:
                visit(c, c_lo, c_lo)
        out[s["id"]] = (hi - lo) - covered

    for root in kids.get(0, []):
        visit(root, root["start"], root["end"])
    return out


def subtree(spans, root_id):
    """The spans under `root_id`, itself included."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [s for s in spans if s["id"] == root_id]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def layer_self_times(spans, root_id):
    """{layer: self seconds} inside the span `root_id`; they sum to its duration."""
    tree = subtree(spans, root_id)
    selfs = self_times([dict(s, parent=0) if s["id"] == root_id else s for s in tree])
    out = {}
    for s in tree:
        out[layer(s["name"])] = out.get(layer(s["name"]), 0.0) + selfs[s["id"]]
    return out


def summary(layer_seconds, total):
    """Printable table of layer self times against the traced pass total."""
    lines = [f"  {'layer':<34}{'self s':>10}{'share':>8}"]
    for name, sec in sorted(layer_seconds.items(), key=lambda kv: -kv[1]):
        lines.append(f"  {name:<34}{sec:>10.3f}{sec / total:>8.1%}")
    lines.append(f"  {'sum of layers':<34}{sum(layer_seconds.values()):>10.3f}"
                 f"  traced pass_s {total:.3f}")
    return "\n".join(lines)

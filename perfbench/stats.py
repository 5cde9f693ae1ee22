"""Statistics and the span summariser of the benchmark."""
import math
from collections import defaultdict

MIN_BEYOND = 10  # a percentile counts only with this many samples above it

LAYERS = ("transport", "validation", "mesh", "catalog", "spark", "suite")


def percentile(values, p):
    """Linear-interpolated p-th percentile, with the sample count and how
    many samples lie strictly above it. `valid` is the reporting rule: a
    percentile counts only when at least MIN_BEYOND samples lie beyond it."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return dict(value=float("nan"), n=0, beyond=0, valid=False)
    pos = (n - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    value = v[lo] + (v[hi] - v[lo]) * (pos - lo)
    beyond = sum(1 for x in v if x > value)
    return dict(value=value, n=n, beyond=beyond, valid=beyond >= MIN_BEYOND)


def median(values):
    return percentile(values, 50)["value"] if values else 0.0


def self_times(spans):
    """{span id: self time in ms}: a span's duration minus the part of its
    interval that its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        ivs = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                     for c in children.get(s["id"], ()))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_of(name):
    head = name.split(".", 1)[0]
    return head if head in LAYERS else None


# in-process replay of a sync request: everything /query/sync does between
# reading the request and writing the response
REPLAY_PARTS = ("validation.validate", "mesh.resolve_federated",
                "mesh.resolve_local", "validation.preprocess", "spark.analyze",
                "spark.plan", "spark.execute", "transport.encode")


def per_layer(spans, counts, traced_ops, names):
    """The per-layer metrics `names` (BENCHMARK.json's), each the median over
    traced operations of the per-operation total (0 where the workload
    never reaches that layer), except:

    - spark.cpu_share: task CPU over task run time, summed over operations;
    - transport.unattributed_ms: sync round trip minus its in-process replay;
    - self.<layer>_ms: self time per layer, per traced operation.

    trace.* names are the caller's; they are left out here."""
    traced_ops = set(traced_ops)
    by_op = defaultdict(lambda: defaultdict(float))
    seen = defaultdict(set)
    for s in spans:
        if s["op"] in traced_ops:
            by_op[s["op"]][s["name"] + "_ms"] += s["end_ms"] - s["start_ms"]
            seen[s["name"] + "_ms"].add(s["op"])
    for c in counts:
        if c["op"] in traced_ops or c["op"] == 0:
            by_op[c["op"]][c["name"]] += c["value"]
            seen[c["name"]].add(c["op"])

    def total(name):
        return sum(by_op[o][name] for o in seen.get(name, ()))

    st = self_times([s for s in spans if s["op"] in traced_ops])
    self_ms = defaultdict(float)
    for s in spans:
        if s["id"] in st and layer_of(s["name"]):
            self_ms[layer_of(s["name"])] += st[s["id"]]

    m = {}
    for name in names:
        if name.startswith("trace."):
            continue
        if name == "spark.cpu_share":
            run = total("spark.task_run_ms")
            m[name] = total("spark.task_cpu_ms") / run if run else 0.0
        elif name == "transport.unattributed_ms":
            m[name] = median([
                by_op[o]["transport.sync_roundtrip_ms"] -
                sum(by_op[o].get(p + "_ms", 0.0) for p in REPLAY_PARTS)
                for o in seen.get("transport.sync_roundtrip_ms", ())])
        elif name.startswith("self.") and name.endswith("_ms"):
            m[name] = self_ms[name[len("self."):-len("_ms")]] / max(1, len(traced_ops))
        else:
            ops = seen.get(name)
            m[name] = median([by_op[o][name] for o in ops]) if ops else 0.0
    return m

"""Turn a run record (what graftbench.Main writes) into metrics, and check
its outputs. Pure functions, no Spark: the self-tests exercise them
directly."""

import hashlib
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
# tail percentiles tried, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_BEYOND = 10


def _rank(p, n):
    # rounded first: 99.9 / 100 * 10000 is 9990.000000000002 in floats
    return math.ceil(round(p / 100.0 * n, 9))


def percentile(values, p):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(values)
    rank = max(1, _rank(p, len(s)))
    return s[rank - 1]


def tail(values):
    """(percentile, value) of the highest ladder percentile that has at least
    TAIL_BEYOND samples above it, or None when the sample is too small."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= TAIL_BEYOND:
            return p, percentile(values, p)
    return None


def drift(ops):
    """Median latency of same-kind ops in the last quarter of the run over
    the first quarter; the median of that ratio across kinds. A quarter is
    at least one sample, so a kind seen twice compares last with first.
    None when no kind has two samples."""
    by_kind = {}
    for o in sorted(ops, key=lambda o: o["t"]):
        by_kind.setdefault(o["kind"], []).append(o["s"])
    ratios = []
    for xs in by_kind.values():
        q = max(1, len(xs) // 4)
        if len(xs) >= 2:
            ratios.append(statistics.median(xs[-q:]) /
                          statistics.median(xs[:q]))
    return (statistics.median(ratios), len(ratios)) if ratios else None


def ids_hash(ids):
    return hashlib.sha256(",".join(map(str, sorted(ids))).encode()) \
        .hexdigest()[:16]


# ------------------------------------------------------------------ checks

def check_sql(rec, stream, checksum):
    """Wrong answers of the statement stream against the shadow model:
    one per read whose result differs, one if the final checksum differs.
    `stream` is gen.sql_stream(seed); `checksum` the shadow's after the
    executed prefix."""
    wrong = []
    results = rec["check"]["results"]
    for i, (st, got) in enumerate(zip(stream, results)):
        if st["expect"] is None or not rec["ops"][i]["ok"]:
            continue
        if got != st["expect"]:
            wrong.append(f"statement {i} ({st['kind']}): got {got}, "
                         f"expected {st['expect']}")
    if rec["check"]["checksum"] != checksum:
        wrong.append(f"table checksum {rec['check']['checksum']} != "
                     f"shadow {checksum}")
    return wrong


def check_batch(rec, expected):
    """Per op kind: invariants always; row count and hash when the seed has
    recorded values; the last timed pass's row count and hash equal to the
    check pass's. Returns the kinds whose output is wrong."""
    wrong = {}
    outputs = rec["check"]["outputs"]
    for op, got in outputs.items():
        if not got["invariant"]:
            wrong[op] = "invariant failed"
        elif expected is not None:
            want = expected.get(op)
            if want is None or [got["rows"], got["hash"]] != want:
                wrong[op] = f"rows/hash {[got['rows'], got['hash']]} != " \
                            f"recorded {want}"
    for op, got in rec["check"].get("last_pass", {}).items():
        want = [outputs[op]["rows"], outputs[op]["hash"]]
        if [got.get("rows"), got.get("hash")] != want:
            wrong.setdefault(op, f"last timed pass gave {got}, check pass "
                                 f"{want}")
    return wrong


def signature(check):
    """What a recorded seed pins: per batch op [rows, hash]; per ingest
    delta [kept count, kept-id hash]."""
    return {"outputs": {op: [g["rows"], g["hash"]]
                        for op, g in sorted(check["outputs"].items())},
            "ingest": [[len(k), ids_hash(k)] for k in check["ingest"]["kept"]]}


def check_ingest(rec, truth, expected):
    """Wrong ingest deltas (index → reason). `truth` is (fresh ids, exact
    re-crawl ids) per delta from the generator: fresh originals must survive
    and exact copies must not. State and sink must hold exactly the initial
    docs plus every survivor, and kept sets must match the recorded ones
    for the deltas the seed has them for."""
    fresh, exact = truth
    ing = rec["check"]["ingest"]
    wrong = {}
    for b, kept in enumerate(ing["kept"]):
        kept_set = set(kept)
        reasons = []
        if not fresh[b] <= kept_set:
            reasons.append(f"{len(fresh[b] - kept_set)} fresh docs dropped")
        if exact[b] & kept_set:
            reasons.append(f"{len(exact[b] & kept_set)} exact copies kept")
        if expected is not None and b < len(expected) and \
                [len(kept), ids_hash(kept)] != expected[b]:
            reasons.append(f"kept {[len(kept), ids_hash(kept)]} != recorded "
                           f"{expected[b]}")
        if reasons:
            wrong[b] = "; ".join(reasons)
    total = sum(len(k) for k in ing["kept"])
    if ing["state_rows"] != ing["initial_rows"] + total or \
            ing["sink_rows"] != total:
        last = len(ing["kept"]) - 1
        wrong[last] = (wrong.get(last, "") + f" state rows {ing['state_rows']}"
                       f" / sink rows {ing['sink_rows']} != "
                       f"{ing['initial_rows']} + {total} kept").strip()
    return wrong


# ------------------------------------------------------------------ metrics

def summarize(rec, wrong_ops):
    """End-to-end metrics of one run. `wrong_ops` counts ops that completed
    but gave a wrong answer. Returns (metrics, attempted, failed) where
    metrics maps name -> (value, unit, samples, note); a metric the sample
    cannot support is left out."""
    ops = rec["ops"]
    ok = [o for o in ops if o["ok"]]
    attempted = len(ops)
    failed = min(attempted, sum(1 for o in ops if not o["ok"]) + wrong_ops)
    window = rec["window_s"]
    m = {}
    setups = rec["setup_s"]
    m["setup_s"] = (statistics.median(setups), "s", len(setups),
                    "median of in-process set-ups")
    m["ops_per_s"] = (len(ok) / window, "1/s", len(ok),
                      f"over {window:.2f} s")
    m["rows_per_s"] = (sum(o["rows"] for o in ok) / window, "rows/s",
                       len(ok), "")
    for cls in ("read", "write"):
        xs = [o["s"] for o in ok if o["cls"] == cls]
        if not xs:
            continue
        m[f"{cls}_p50_s"] = (statistics.median(xs), "s", len(xs), "")
        t = tail(xs)
        if t is not None:
            m[f"{cls}_tail_s"] = (t[1], "s", len(xs), f"p{t[0]:g}")
    d = drift(ok)
    if d is not None:
        m["drift_ratio"] = (d[0], "ratio", len(ok), f"{d[1]} kinds")
    m["failed_ratio"] = (failed / attempted if attempted else 0.0, "ratio",
                         attempted, f"{failed} failed or wrong")
    ing = rec["check"].get("ingest")
    if ing and ing["kept"]:
        m["stored_bytes_per_input_byte"] = (
            ing["stored_bytes_per_input_byte"], "ratio", len(ing["kept"]),
            "state + sink bytes over ingested input bytes")
    return m, attempted, failed


def result_line(correct, attempted, failed, metrics, wanted):
    """The final stdout object: exactly the `wanted` [(name, unit)]."""
    out = {}
    for name, unit in wanted:
        if name not in metrics:
            raise KeyError(f"metric {name} was not measured")
        if not NAME_RE.match(name) or not UNIT_RE.match(unit):
            raise ValueError(f"metric {name!r} / unit {unit!r} breaks the "
                             "name or unit charset")
        out[name] = {"value": metrics[name], "unit": unit}
    return {"correct": bool(correct), "attempted": int(attempted),
            "failed": int(failed), "metrics": out}

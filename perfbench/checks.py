"""Output checks, computed apart from the program.

Each function takes the harness result (its list of operations) and
returns the set of operation indexes whose outputs are wrong. The
reference values come from the generator's ground truth, an independent
model of the deliveries, or DuckDB over the same input files — never
from a stored copy of earlier program output.
"""
import collections
import glob
import json
import math
import zlib

import duckdb
import pyarrow.parquet as pq

import gen

# ----------------------------------------------------------------- motor


def _motor_day_ok(out, date, data, truth):
    """True when one scheduled run's sinks and stats are right."""
    exp = truth[date]
    con = duckdb.connect()
    ok_ids = [r[0] for r in con.execute(
        "SELECT policy_id FROM read_json(?, format='newline_delimited', "
        "columns={'policy_id': 'VARCHAR'})", [f"{out}/ok/run_date={date}/*.json"]).fetchall()]
    ko = con.execute(
        "SELECT policy_id, validation_errors FROM read_csv(?, header=true, all_varchar=true)",
        [f"{out}/ko/run_date={date}/*.csv"]).fetchall()
    ko_ids = [r[0] for r in ko]
    want_ko = {k for k, v in exp.items() if v["labels"]}
    if len(ok_ids) != len(set(ok_ids)) or len(ko_ids) != len(set(ko_ids)):
        return "duplicate rows in a sink"
    if set(ok_ids) & set(ko_ids):
        return "OK and KO overlap"
    if set(ok_ids) | set(ko_ids) != set(exp):
        return "OK + KO differ from the input"
    if set(ko_ids) != want_ko:
        return "wrong rows rejected"
    for pid, errs in ko:
        if sorted((errs or "").split(",")) != sorted(exp[pid]["labels"]):
            return f"labels of {pid}: {errs} != {exp[pid]['labels']}"

    stats = json.load(open(f"{out}/stats/run_date={date}/policy_stats.json"))
    n, n_ko = len(exp), len(want_ko)
    vs = stats["validation_stats"]
    if (vs["total_records"], vs["valid_records"], vs["rejected_records"]) != (n, n - n_ko, n_ko):
        return f"validation counts {vs}"
    if not math.isclose(vs["validation_pass_rate"], (n - n_ko) * 100.0 / n, rel_tol=1e-12):
        return "pass rate"
    want_err = collections.Counter(l for v in exp.values() for l in v["labels"])
    got_err = {e["error"]: e["n"] for e in stats["top_validation_errors"]}
    if got_err != dict(want_err):
        return f"top errors {got_err} != {dict(want_err)}"

    # field stats against DuckDB over the same JSON file; the field
    # paths follow that batch's spelling
    src = f"{data}/policies/run_date={date}/part-0.json"
    cols = {r[0]: r[1] for r in con.execute(
        "DESCRIBE SELECT * FROM read_json_auto(?, format='newline_delimited')", [src]).fetchall()}
    expr = {"driver_age": "driver.age" if "age" in cols["driver"] else "driverAge",
            "premium": "premium", "vehicle_value": "vehicle.value", "bonus_malus": "bonus_malus"}
    got = {s["field"]: s for s in stats["field_stats"]}
    if set(got) != set(gen.STATS_FIELDS):
        return f"stats fields {sorted(got)}"
    for f in gen.STATS_FIELDS:
        e = expr[f]
        total, nonnull, distinct, lo, hi = con.execute(
            f"SELECT count(*), count({e}), count(DISTINCT {e}), min({e}), max({e}) "
            "FROM read_json_auto(?, format='newline_delimited')", [src]).fetchone()
        s = got[f]
        if (s["null_count"], s["non_null_count"], s["distinct_count"]) != (total - nonnull, nonnull, distinct):
            return f"{f} counts {s}"
        if not math.isclose(s["null_pct"], (total - nonnull) * 100.0 / total, rel_tol=1e-12, abs_tol=1e-12):
            return f"{f} null_pct"
        if isinstance(lo, str):
            if (s["min_value"], s["max_value"]) != (lo, hi) or s["min_num"] is not None:
                return f"{f} min/max {s}"
        elif (s["min_num"], s["max_num"]) != (float(lo), float(hi)) or \
                (float(s["min_value"]), float(s["max_value"])) != (float(lo), float(hi)):
            return f"{f} min/max {s}"
    return None


def check_motor(res, work, data):
    truth = json.load(open(f"{data}/truth.json"))
    bad, notes = set(), []
    for i, op in enumerate(res["ops"]):
        if not op["ok"]:
            continue
        try:
            why = _motor_day_ok(f"{work}/{op['round']}", op["date"], data, truth)
        except Exception as e:  # a missing or unreadable output is a wrong output
            why = f"unreadable output: {e}"
        if why:
            bad.add(i)
            notes.append(f"{op['round']} {op['date']}: {why}")
    return bad, notes

# ---------------------------------------------------------------- policy


def _render(t):
    """Rows of a policy delivery as the text the fingerprint hashes."""
    d = t.to_pydict()
    return [(d["policy_id"][i], d["region"][i], d["start_month"][i], d["start_date"][i].isoformat(),
             str(d["premium_cents"][i]), d["status"][i], str(d["version"][i]))
            for i in range(t.num_rows)]


def _fp(rows):
    return [len(rows), sum(zlib.crc32("|".join(r).encode()) for r in rows)]


def check_policy(res, data):
    """Replays the deliveries through a last-writer-wins model and
    compares every read with the model at the version it read."""
    src = f"{data}/main"
    state = {r[0]: r for r in _render(pq.read_table(f"{src}/init.parquet"))}
    states = [dict(state)]
    commits = len(glob.glob(f"{src}/c*_ups.parquet"))
    for c in range(1, commits + 1):
        for r in _render(pq.read_table(f"{src}/c{c:03d}_ups.parquet")):
            state[r[0]] = r
        for k in pq.read_table(f"{src}/c{c:03d}_del.parquet").column("policy_id").to_pylist():
            state.pop(k, None)
        states.append(dict(state))
    fps = [_fp(list(s.values())) for s in states]

    bad, notes = set(), []
    by_round = collections.defaultdict(list)
    for i, op in enumerate(res["ops"]):
        by_round[op["round"]].append(i)
    for tag, idx in by_round.items():
        # version -> commit number: v1 is the initial load; a compact
        # version carries the content of the commit before it
        marks = [(1, 0)] + sorted((res["ops"][i]["version"], res["ops"][i]["commit"])
                                  for i in idx if res["ops"][i]["kind"] == "commit" and res["ops"][i]["ok"])

        def commit_at(v):
            return max(c for mv, c in marks if mv <= v)
        for i in idx:
            op = res["ops"][i]
            if not op["ok"] or op["kind"] == "commit":
                continue
            v = op["version"]
            s = states[commit_at(v)]
            if op["kind"] == "read_latest":
                agg = collections.defaultdict(lambda: [0, 0])
                for r in s.values():
                    agg[r[1]][0] += 1
                    agg[r[1]][1] += int(r[4])
                want = sorted([k, str(a), str(b)] for k, (a, b) in agg.items())
                ok = sorted(op["by_region"]) == want
            elif op["kind"] == "read_at":
                ok = op["fingerprint"] == fps[commit_at(v)]
            elif op["kind"] == "read_points":
                want = [[list(s[k])] if k in s else [] for k in op["keys"]]
                ok = op["rows"] == want
            else:  # change_set: added - removed nets to the model's diff
                new, old = fps[commit_at(v)], fps[commit_at(v - 1)]
                ok = [a - r for a, r in zip(op["added"], op["removed"])] == [x - y for x, y in zip(new, old)]
            if not ok:
                bad.add(i)
                notes.append(f"{tag} commit {op['commit']} {op['kind']} v{v} disagrees with the model")
    return bad, notes

def check(workload, res, work, data):
    if workload == "motor_ingest":
        return check_motor(res, work, data)
    return check_policy(res, data)

"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same pair always
writes byte-identical inputs, so a directory named after the pair is
reused across runs. Each generator also writes the ground truth that the
output checks in ``checks.py`` need, computed here from the generated
values alone (never from the program's output).
"""
import datetime as dt
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ----------------------------------------------------------------- motor

MOTOR_ANCHOR = dt.date(2026, 1, 5)
BROKERS = 40           # broker ids 0..39 exist in the CSV; 40+ are unknown
PLATE_RE = re.compile(r"^[A-Z]{2}-[0-9]{4}$")
FIRST = ["Ana", "Luis", "Marta", "Jon", "Irene", "Pablo", "Sara", "Hugo"]
LAST = ["Ruiz", "Gomez", "Lopez", "Diaz", "Moreno", "Alonso", "Romero"]
MAKES = ["Seat", "Renault", "Toyota", "Ford", "Kia", "Tesla", "Fiat"]

# The flow's validation rules, in the order the metadata declares them.
# Each of the reference's eleven check kinds appears once.
MOTOR_RULES = [
    ("license_number", ["notEmpty"]),
    ("broker_name", ["notNull"]),
    ("bonus_malus", ["isNumeric"]),
    ("vehicle_year", ["isInteger"]),
    ("premium", ["min:0"]),
    ("vehicle_value", ["max:200000"]),
    ("driver_age", ["range:18-99"]),
    ("start_date", ["isDate", "dateBefore:end_date", "dateAfter:issue_date"]),
    ("plate", ["pattern:^[A-Z]{2}-[0-9]{4}$"]),
]
STATS_FIELDS = ["driver_age", "premium", "vehicle_value", "bonus_malus"]


def motor_day(d):
    return MOTOR_ANCHOR + dt.timedelta(days=d)


def _parse_date(v):
    if v is None:
        return None
    if not re.fullmatch(r"\d{4}-\d{2}-\d{2}", v):
        return None
    try:
        return dt.date.fromisoformat(v)
    except ValueError:
        return None


def _as_float(v):
    if v is None:
        return None
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def motor_labels(row):
    """The labels the reference semantics give one normalized row:
    an independent re-statement of each check, applied to the values
    the generator chose."""
    out = []
    for field, checks in MOTOR_RULES:
        v = row[field]
        for check in checks:
            num = _as_float(v)
            if check == "notEmpty":
                ok, label = v is not None and str(v) != "", "must_be_non_empty"
            elif check == "notNull":
                ok, label = v is not None, "must_not_be_null"
            elif check == "isNumeric":
                ok, label = v is not None and num is not None, "must_be_numeric"
            elif check == "isInteger":
                ok = v is not None and num is not None and num == int(num)
                label = "must_be_integer"
            elif check.startswith("min:"):
                lo = float(check[4:])
                ok, label = v is None or (num is not None and num >= lo), f"must_be_at_least_{lo}"
            elif check.startswith("max:"):
                hi = float(check[4:])
                ok, label = v is None or (num is not None and num <= hi), f"must_be_at_most_{hi}"
            elif check.startswith("range:"):
                lo, hi = (float(x) for x in check[6:].split("-"))
                ok = v is None or (num is not None and lo <= num <= hi)
                label = f"must_be_between_{lo}_and_{hi}"
            elif check == "isDate":
                ok, label = v is None or _parse_date(v) is not None, "must_be_valid_date"
            elif check.startswith("dateBefore:") or check.startswith("dateAfter:"):
                before = check.startswith("dateBefore:")
                other = check.split(":", 1)[1]
                ov = row[other]
                d, od = _parse_date(v), _parse_date(ov)
                ok = v is None or ov is None or (
                    d is not None and od is not None and (d <= od if before else d >= od))
                label = f"must_be_{'before' if before else 'after'}_{other}"
            elif check.startswith("pattern:"):
                ok, label = v is None or PLATE_RE.search(v) is not None, "must_match_pattern"
            else:
                raise ValueError(check)
            if not ok:
                out.append(f"{field}:{label}")
    return out


def gen_motor(out, seed, rows, days):
    """`days` daily JSON-lines batches of `rows` policies plus one
    warm-up batch (day -1), a broker CSV, and per-row expected labels."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(f"{out}/brokers", exist_ok=True)
    with open(f"{out}/brokers/brokers.csv", "w") as f:
        f.write("broker_id,broker_name,commission\n")
        for b in range(BROKERS):
            f.write(f"{b},Broker {b:02d},{0.05 + 0.005 * (b % 7):.3f}\n")
    truth = {}
    for d in [-1] + list(range(days)):
        n = rows if d >= 0 else max(1000, rows // 10)
        day = motor_day(d)
        # spellings drift between batches: even days nest the driver's
        # age and the broker id, odd days carry them top-level and
        # rename two nested fields
        drift = d % 2 == 1
        r = rng.random((n, 12))
        ages = rng.integers(18, 90, n)
        lines, exp = [], {}
        for i in range(n):
            pid = f"P{day:%Y%m%d}-{i:06d}"
            age = int(ages[i])
            if r[i, 0] < 0.015:
                age = int(rng.choice([15, 16, 104, 120]))
            age_val = None if r[i, 1] < 0.01 else age
            lic = f"L-{rng.integers(10**6):06d}" if r[i, 2] >= 0.015 else ""
            broker = int(rng.integers(BROKERS)) if r[i, 3] >= 0.015 else BROKERS + int(rng.integers(5))
            bonus = f"{rng.integers(50, 200) / 100:.2f}" if r[i, 4] >= 0.015 else "n/a"
            year = int(rng.integers(1995, 2026))
            year_val = year + 0.5 if r[i, 5] < 0.015 else float(year)
            premium = round(float(rng.uniform(150, 2500)), 2)
            if r[i, 6] < 0.015:
                premium = -premium
            value = round(float(rng.uniform(3000, 90000)), 2)
            if r[i, 7] < 0.015:
                value = round(float(rng.uniform(200001, 400000)), 2)
            start = day + dt.timedelta(days=int(rng.integers(0, 30)))
            issue = start - dt.timedelta(days=int(rng.integers(1, 20)))
            end = start + dt.timedelta(days=365)
            start_s, end_s, issue_s = start.isoformat(), end.isoformat(), issue.isoformat()
            if r[i, 8] < 0.01:
                start_s = "TBD"
            if r[i, 9] < 0.015:
                end_s = (start - dt.timedelta(days=10)).isoformat()
            if r[i, 10] < 0.015:
                issue_s = (start + dt.timedelta(days=3)).isoformat()
            letters = "".join(chr(65 + int(x)) for x in rng.integers(0, 26, 2))
            plate = f"{letters}-{rng.integers(10000):04d}" if r[i, 11] >= 0.015 else f"{letters.lower()} {rng.integers(100)}"
            driver = {"name": f"{FIRST[i % len(FIRST)]} {LAST[i % len(LAST)]}"}
            vehicle = {"make": MAKES[i % len(MAKES)], "year": year_val, "value": value}
            rec = {"policy_id": pid}
            if drift:
                driver["licence_no"] = lic
                vehicle["registration"] = plate
                if age_val is not None:
                    rec["driverAge"] = age_val
                rec["broker_id"] = broker
            else:
                driver["license_number"] = lic
                if age_val is not None:
                    driver["age"] = age_val
                vehicle["plate"] = plate
                rec["broker"] = {"id": broker}
            rec.update({"driver": driver, "vehicle": vehicle, "premium": premium,
                        "bonus_malus": bonus, "start_date": start_s,
                        "end_date": end_s, "issue_date": issue_s})
            lines.append(json.dumps(rec, separators=(",", ":")))
            norm = {"license_number": lic, "broker_name": None if broker >= BROKERS else f"Broker {broker:02d}",
                    "bonus_malus": bonus, "vehicle_year": year_val, "premium": premium,
                    "vehicle_value": value, "driver_age": age_val, "start_date": start_s,
                    "end_date": end_s, "issue_date": issue_s, "plate": plate}
            exp[pid] = {"labels": motor_labels(norm),
                        "stats": [norm[f] for f in STATS_FIELDS]}
        ddir = f"{out}/policies/run_date={day:%Y-%m-%d}"
        os.makedirs(ddir, exist_ok=True)
        with open(f"{ddir}/part-0.json", "w") as f:
            f.write("\n".join(lines) + "\n")
        truth[f"{day:%Y-%m-%d}"] = exp
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f)


def motor_metadata(data, out, days):
    """The reference-shaped pipeline spec: normalize (prioritized
    sources + auto-flatten) -> drop the raw structs -> enrich from the
    broker CSV -> add_fields -> validate -> compute_stats; OK rows to a
    JSON sink, KO rows to a CSV sink."""
    rules = [{"field": f, "validations": c} for f, c in MOTOR_RULES]
    return {
        "schedule": {"interval": "daily", "anchor": f"{motor_day(0):%Y-%m-%d}T00:00:00Z",
                     "catchup": True, "retries": 0, "retry_delay_minutes": 5},
        "dataflows": [{
            "name": "motor-ingestion",
            "sources": [
                {"name": "policies", "path": f"{data}/policies/run_date=${{run_date}}", "format": "json"},
                {"name": "brokers", "path": f"{data}/brokers/brokers.csv", "format": "csv"}],
            "transformations": [
                {"name": "standardization", "type": "normalize_fields", "params": {
                    "input": "policies", "output": "standardized", "fields": [
                        {"name": "driver_age", "sources": ["driver.age", "driverAge"]},
                        {"name": "license_number", "sources": ["driver.license_number", "driver.licence_no"]},
                        {"name": "plate", "sources": ["vehicle.plate", "vehicle.registration"]},
                        {"name": "broker_id", "sources": ["broker.id", "broker_id"]}]}},
                {"name": "flatten", "type": "drop_columns", "params": {
                    "input": "standardized", "output": "flat",
                    "columns": ["driver", "vehicle", "broker", "driverAge"]}},
                {"name": "enrich", "type": "join", "params": {
                    "input": "flat", "right_input": "brokers", "output": "enriched",
                    "on": ["broker_id"], "how": "left"}},
                {"name": "metadata_fields", "type": "add_fields", "params": {
                    "input": "enriched", "output": "with_meta", "fields": [
                        {"name": "ingested_at", "function": "current_timestamp"},
                        {"name": "pipeline", "literal": "motor-ingestion"}]}},
                {"name": "validation", "type": "validate_fields", "params": {
                    "input": "with_meta", "validations": rules,
                    "ok_output": "validation_ok", "ko_output": "validation_ko"}},
                {"name": "policy_stats", "type": "compute_stats", "params": {
                    "input": "with_meta", "fields": STATS_FIELDS,
                    "include_validation_stats": True, "distinct_mode": "exact",
                    "ok_input": "validation_ok", "ko_input": "validation_ko",
                    # Schedule.bind fills templates in source and sink
                    # paths only; the stats report's date is written in
                    # by the harness for each run (see README)
                    "output_path": f"{out}/stats/run_date=__RUN_DATE__"}}],
            "sinks": [
                {"input": "validation_ok", "name": "ok", "format": "json", "saveMode": "overwrite",
                 "paths": [f"{out}/ok/run_date=${{run_date}}"]},
                {"input": "validation_ko", "name": "ko", "format": "csv", "saveMode": "overwrite",
                 "paths": [f"{out}/ko/run_date=${{run_date}}"]}]}]}


# ---------------------------------------------------------------- policy

REGIONS = ["north", "south", "east", "west", "centre"]
POLICY_MONTHS = 24


def _month(i):
    return f"{2024 + i // 12}-{i % 12 + 1:02d}"


def _policy_table(ids, regions, months, premium, status, version):
    start = [dt.date(int(m[:4]), int(m[5:]), 1 + (int(i[1:]) % 28)) for i, m in zip(ids, months)]
    return pa.table({
        "policy_id": pa.array(ids, pa.string()),
        "region": pa.array(regions, pa.string()),
        "start_month": pa.array(months, pa.string()),
        "start_date": pa.array(start, pa.date32()),
        "premium_cents": pa.array(premium, pa.int64()),
        "status": pa.array(status, pa.string()),
        "version": pa.array(version, pa.int64()),
    })


def gen_policy(out, seed, rows, commits):
    """An initial policy table of `rows` rows over 24 monthly
    partitions and `commits` daily deliveries: upserts skewed toward
    the most recent months plus new policies in a fresh month, and
    cancellations (delete keys) of recent policies. A warm-up table of
    its own is written beside them."""
    rng = np.random.default_rng([seed, 2])

    def table(tag, n, n_commits, ups_n, del_n):
        os.makedirs(f"{out}/{tag}", exist_ok=True)
        months_idx = np.sort(rng.integers(0, POLICY_MONTHS, n))
        ids = [f"Q{i:07d}" for i in range(n)]
        live = {i: int(m) for i, m in zip(ids, months_idx)}
        pq.write_table(_policy_table(
            ids, [REGIONS[int(x)] for x in rng.integers(0, 5, n)],
            [_month(int(m)) for m in months_idx], rng.integers(10_000, 300_000, n).tolist(),
            ["active"] * n, [0] * n), f"{out}/{tag}/init.parquet")
        next_id = n
        probes = []
        for c in range(1, n_commits + 1):
            newest = POLICY_MONTHS - 1 + (c + 3) // 4
            recent = sorted(k for k, m in live.items() if m >= newest - 3)
            n_new = ups_n // 6
            upd = rng.choice(len(recent), size=min(len(recent), ups_n - n_new), replace=False)
            upd_ids = [recent[int(j)] for j in upd]
            rest = sorted(set(recent) - set(upd_ids))
            dels = [rest[int(j)] for j in rng.choice(len(rest), size=min(len(rest), del_n), replace=False)]
            new_ids = [f"Q{next_id + j:07d}" for j in range(n_new)]
            next_id += n_new
            ids_c = upd_ids + new_ids
            months_c = [_month(live[k]) for k in upd_ids] + [_month(newest)] * n_new
            pq.write_table(_policy_table(
                ids_c, [REGIONS[int(x)] for x in rng.integers(0, 5, len(ids_c))], months_c,
                rng.integers(10_000, 300_000, len(ids_c)).tolist(),
                [["active", "renewed", "amended"][int(x)] for x in rng.integers(0, 3, len(ids_c))],
                [c] * len(ids_c)), f"{out}/{tag}/c{c:03d}_ups.parquet")
            pq.write_table(pa.table({"policy_id": pa.array(sorted(dels), pa.string())}),
                           f"{out}/{tag}/c{c:03d}_del.parquet")
            for k in dels:
                del live[k]
            for k in new_ids:
                live[k] = newest
            # point lookups: two upserted keys (present), one cancelled
            # key (absent), two untouched keys (present)
            keys = sorted(live)
            probes.append([ids_c[int(rng.integers(len(ids_c)))], ids_c[int(rng.integers(len(ids_c)))],
                           dels[0] if dels else keys[0], keys[0], keys[int(rng.integers(len(keys)))]])
        with open(f"{out}/{tag}/probes.json", "w") as f:
            json.dump(probes, f)

    table("warm", max(2000, rows // 10), 1, 100, 10)
    table("main", rows, commits, max(60, rows // 40), max(10, rows // 400))


# ------------------------------------------------------------------ entry

SIZES = {
    "motor_ingest": {"rows": 10_000, "days": 2},
    "policy_table": {"rows": 40_000, "commits": 1},
}


def ensure(root, workload, seed):
    """Generate (once) the inputs of `workload` for `seed`; returns the
    directory. A `.done` marker makes a half-written directory from an
    interrupted run regenerate instead of being reused."""
    size = SIZES[workload]
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    out = os.path.join(root, f"{workload}-seed{seed}-{tag}")
    if os.path.exists(f"{out}/.done"):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if workload == "motor_ingest":
        gen_motor(out, seed, size["rows"], size["days"])
    else:
        gen_policy(out, seed, size["rows"], size["commits"])
    open(f"{out}/.done", "w").close()
    return out

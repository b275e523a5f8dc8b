"""Output checks of the graft benchmark. Each returns a list of failure
lines; an empty list means the outputs are correct."""
import json
import os
import subprocess
import sys

import metrics


def oracle(root, data_dir, check_dir, names, log):
    """Queries with a DuckDB oracle, through `tools/check_oracle.py --only`."""
    if not names:
        return []
    out_json = os.path.join(check_dir, "oracle_check.json")
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check_oracle.py"), data_dir, check_dir,
         "--only", ",".join(sorted(names)), "--json", out_json],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=30)
    log.write(proc.stdout)
    if not os.path.exists(out_json):
        return ["oracle check produced no record (exit %d)" % proc.returncode]
    record = json.load(open(out_json))["queries"]
    fails = []
    for n in names:
        r = record.get(n)
        if r is None or r["status"] not in ("ok", "ulp"):
            fails.append("%s: oracle %s" % (n, "missing" if r is None else r.get("detail", r["status"])))
    return fails


def result_record(check_dir, name):
    import duckdb
    con = duckdb.connect()
    rows = con.execute("SELECT * FROM read_parquet('%s/*.parquet')"
                       % os.path.join(check_dir, name)).fetchall()
    return metrics.row_hash_record(rows)


def records(check_dir, names, expected):
    """Queries without an oracle: rows + order-independent hash against
    the record kept with the benchmark."""
    fails = []
    for n in names:
        why = metrics.compare_record(expected.get(n), result_record(check_dir, n))
        if why:
            fails.append("%s: %s" % (n, why))
    return fails


GOLD_SQL = """
WITH raw AS (
  SELECT * FROM read_json('{landing}/bridge_*/date=*/*.json', format='newline_delimited',
    columns={{'event_time': 'VARCHAR', 'bridge_id': 'INTEGER', 'sensor_type': 'VARCHAR',
             'value': 'DOUBLE', 'ingest_time': 'VARCHAR'}}, hive_partitioning=false)
), parsed AS (
  SELECT bridge_id, sensor_type, value,
         floor(epoch(TRY_CAST(replace(event_time, 'Z', '') AS TIMESTAMP)) / 60) * 60 AS w
  FROM raw
), valid AS (
  SELECT * FROM parsed WHERE w IS NOT NULL AND value IS NOT NULL AND (
    (sensor_type = 'temperature' AND value BETWEEN -40 AND 80) OR
    (sensor_type = 'vibration' AND value >= 0) OR
    (sensor_type = 'tilt' AND value BETWEEN 0 AND 90))
), t AS (SELECT bridge_id, w, avg(value) AS avg_temperature FROM valid
         WHERE sensor_type = 'temperature' GROUP BY ALL),
   v AS (SELECT bridge_id, w, max(value) AS max_vibration FROM valid
         WHERE sensor_type = 'vibration' GROUP BY ALL),
   l AS (SELECT bridge_id, w, max(value) AS max_tilt_angle FROM valid
         WHERE sensor_type = 'tilt' GROUP BY ALL)
SELECT t.bridge_id, t.w, avg_temperature, max_vibration, max_tilt_angle
FROM t JOIN v USING (bridge_id, w) JOIN l USING (bridge_id, w)
"""


def stream(sc):
    """Landed = bronze + bronze quarantine; planted DQ failures = quarantine
    rows per rule; every gold window equals a DuckDB recomputation over
    the landed NDJSON, and every window well behind gold's watermark is
    in gold."""
    import duckdb
    fails = []
    p = sc["planted"]
    if p["events"] != sc["bronze_rows"] + sc["bronze_quarantine"]:
        fails.append("landed %d != bronze %d + quarantine %d"
                     % (p["events"], sc["bronze_rows"], sc["bronze_quarantine"]))
    if p["bad_time"] != sc["quarantine_bad_time"]:
        fails.append("bad event_time planted %d, quarantined %d"
                     % (p["bad_time"], sc["quarantine_bad_time"]))
    if p["null_value"] != sc["quarantine_null_value"]:
        fails.append("null value planted %d, quarantined %d"
                     % (p["null_value"], sc["quarantine_null_value"]))
    for sensor, n in p["out_of_range"].items():
        if n != sc["silver_quarantine"].get(sensor, 0):
            fails.append("%s out of range planted %d, quarantined %d"
                         % (sensor, n, sc["silver_quarantine"].get(sensor, 0)))
    con = duckdb.connect()
    want = {(r[0], int(r[1])): r[2:] for r in
            con.execute(GOLD_SQL.format(landing=sc["landing"])).fetchall()}
    got = con.execute(
        "SELECT bridge_id, CAST(epoch(window_start) AS BIGINT), avg_temperature, "
        "max_vibration, max_tilt_angle FROM read_parquet('%s/*.parquet')" % sc["gold_dir"]).fetchall()
    if not got:
        fails.append("gold is empty")
    seen = set()
    for r in got:
        key = (r[0], r[1])
        if key in seen:
            fails.append("gold window %s emitted twice" % (key,))
        seen.add(key)
        w = want.get(key)
        if w is None:
            fails.append("gold window %s not in recomputation" % (key,))
        elif abs(w[0] - r[2]) > 1e-9 * max(1.0, abs(w[0])) or w[1] != r[3] or w[2] != r[4]:
            fails.append("gold window %s: %s != recomputed %s" % (key, r[2:], w))
    closed = sc["gold_watermark_us"] / 1e6 - 60
    missing = [k for k in want if k[1] + 60 <= closed and k not in seen]
    if missing:
        fails.append("%d closed windows missing from gold, e.g. %s" % (len(missing), missing[0]))
    return fails[:20]

"""Correctness gates applied after the JVM has measured a workload.

Each gate returns (failed_ops, notes): the number of measured operations
whose output was wrong, on top of the ones that threw (which the JVM has
already counted), and a line of explanation per finding.

- etl_batches: invariants over the last pass's written outputs, and
  for the default seed a golden hash of all of them.
- ann_serving: checked inside the JVM (recall against set-up ground
  truth, deleted ids absent), reported through its failure count.
"""
import csv
import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_SEED = 1

# key columns that must be unique within each clean partition
CLEAN_KEYS = {
    "airlines": ["airlinekey"],
    "flights": ["flightkey"],
    "passengers": ["fullname", "email", "loyaltystatus"],
    "transactions": ["transactionid"],
}
REASONS = ("db_query_error", "flight_not_found", "missing_time_data",
           "invalid_time_format", "delay_threshold_met", "delay_below_threshold")


def _csv_rows(path):
    with open(path, newline="", encoding="utf-8") as f:
        return sum(1 for _ in csv.reader(f)) - 1


def _spark_csv(d):
    return (f"read_csv('{d}/*.csv', header=true, all_varchar=true, "
            f"union_by_name=true)")


def etl_invariants(con, in_dir, out_dir, b):
    """Problems found in one batch's outputs (empty when all hold)."""
    bad = []
    base = os.path.join(out_dir, b)
    for f in ("airlines", "airports", "flights", "passengers", "transactions"):
        n_in = _csv_rows(os.path.join(in_dir, b, f + ".csv"))
        cl, qu = (os.path.join(base, k, f) for k in ("clean", "quarantine"))
        ids = con.execute(
            f"SELECT count(*), count(DISTINCT _ingest_id) FROM ("
            f"SELECT _ingest_id FROM {_spark_csv(cl)} UNION ALL "
            f"SELECT _ingest_id FROM {_spark_csv(qu)})").fetchone()
        if ids[0] != n_in or ids[1] != n_in:
            bad.append(f"{b}/{f}: clean+quarantine {ids[0]} rows "
                       f"({ids[1]} distinct) for {n_in} input rows")
        if f in CLEAN_KEYS:
            k = ", ".join(CLEAN_KEYS[f])
            dup = con.execute(f"SELECT count(*) FROM (SELECT {k} FROM {_spark_csv(cl)} "
                              f"GROUP BY {k} HAVING count(*) > 1)").fetchone()[0]
            if dup:
                bad.append(f"{b}/{f}: {dup} duplicate keys in the clean partition")
    wh = os.path.join(base, "warehouse")
    dim = f"read_parquet('{wh}/dimension/*.parquet')"
    fact = f"read_parquet('{wh}/fact/*.parquet')"
    n = con.execute(f"SELECT count(*) FROM (SELECT booking_reference FROM {dim} "
                    f"GROUP BY 1 HAVING sum(CASE WHEN is_current THEN 1 ELSE 0 END) <> 1)"
                    ).fetchone()[0]
    if n:
        bad.append(f"{b}: {n} natural keys without exactly one current version")
    n = con.execute(f"SELECT count(*) FROM {fact} f LEFT JOIN {dim} d "
                    f"ON d.booking_reference = f.booking_reference AND d.is_current "
                    f"AND d.valid_from = f.dim_valid_from "
                    f"WHERE d.booking_reference IS NULL").fetchone()[0]
    if n:
        bad.append(f"{b}: {n} fact rows not pointing at their current version")
    n_req = _csv_rows(os.path.join(in_dir, b, "requests.csv"))
    el = f"read_parquet('{base}/eligibility/requests/*.parquet')"
    got = con.execute(f"SELECT count(*), count(DISTINCT request_id), "
                      f"count(*) FILTER (WHERE reason IN {REASONS}) FROM {el}").fetchone()
    if got != (n_req, n_req, n_req):
        bad.append(f"{b}: eligibility rows/requests/known reasons {got} "
                   f"for {n_req} requests")
    # the stream answers every request once, as the batch check does
    st = f"read_parquet('{base}/stream/sink/*.parquet')"
    got = con.execute(f"SELECT count(*), count(DISTINCT s.passenger_id), "
                      f"count(*) FILTER (WHERE s.reason = e.reason) "
                      f"FROM {st} s LEFT JOIN {el} e ON e.request_id = s.passenger_id"
                      ).fetchone()
    if got != (n_req, n_req, n_req):
        bad.append(f"{b}: stream rows/requests/reasons equal to the batch {got} "
                   f"for {n_req} requests")
    return bad


def etl_state_hash(con, out_dir, batches):
    """Order-independent hash of the final warehouse and every output
    partition's contents (ingest ids excluded: they encode partitioning)."""
    h = hashlib.sha256()
    last = os.path.join(out_dir, batches[-1], "warehouse")
    cols = "COLUMNS(c -> c <> '_ingest_id')"
    queries = [f"SELECT {cols} FROM read_parquet('{last}/{t}/*.parquet')"
               for t in ("staging", "prefact", "dimension", "fact")]
    for b in batches:
        base = os.path.join(out_dir, b)
        for kind in ("clean", "quarantine"):
            for f in ("airlines", "airports", "flights", "passengers", "transactions"):
                queries.append(f"SELECT {cols} FROM "
                               f"{_spark_csv(os.path.join(base, kind, f))}")
        for out in ("eligibility/requests", "stream/sink"):
            queries.append(f"SELECT {cols} FROM read_parquet('{base}/{out}/*.parquet')")
    for q in queries:
        rows = con.execute(f"SELECT * FROM ({q}) ORDER BY ALL").fetchall()
        h.update(repr(rows).encode())
    return h.hexdigest()


def check_etl(seed, gate):
    import duckdb
    con = duckdb.connect()
    batches = gate["batches"]
    passes = int(gate["passes"])
    notes = []
    bad_batches = 0
    for b in batches:
        found = etl_invariants(con, gate["in_dir"], gate["out_dir"], b)
        notes += found
        bad_batches += bool(found)
    # outputs are deterministic, so a batch wrong in the checked (last)
    # pass was wrong in every pass
    failed = bad_batches * passes
    if seed == DEFAULT_SEED:
        with open(os.path.join(HERE, "golden.json")) as f:
            want = json.load(f)["sha256"]
        got = etl_state_hash(con, gate["out_dir"], batches)
        if got != want:
            notes.append(f"golden hash {got} != {want}")
            failed = len(batches) * passes
    return failed, notes


def check(workload, seed, jvm):
    if workload == "etl_batches":
        return check_etl(seed, jvm["gate"])
    return 0, []

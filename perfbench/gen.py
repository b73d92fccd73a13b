"""Seeded input generators. The same seed gives byte-identical files.

etl_batches
    BATCHES sequential upload batches in the reference's file shapes
    (FIXTURES.md A1-A6), each a directory with airlines.csv, airports.csv,
    flights.csv, passengers.csv, transactions.csv, requests.csv and
    outbox/messages.jsonl (the requests again, as the Kafka worker's
    eligibility_check messages, mixed with other messages and non-JSON).
    Every file carries the fault classes its cleaning pipeline handles.
    From the second batch on, a share of transaction ids, flights and
    passengers is re-sent with changed attributes, so the warehouse
    upserts and the SCD2 dimension closes and reopens versions.

ann_serving
    A clustered corpus of unit-length 64-d vectors (corpus.parquet:
    vec_id, embedding): topics, and inside them tight groups of eleven
    near-duplicates, so a vector's exact top-10 is the rest of its group. Plus the churn vectors the write requests use
    (churn.parquet, churn_update.parquet), and the IVF cell centroids
    (centroids.parquet) from a k-means over a sample of the corpus. Churn vectors come from
    clusters of their own, so writes never change the search panel's
    exact top-10 and the set-up ground truth stays valid.

Usage: python3 perfbench/gen.py <workload> <seed> <outDir>
"""
import csv
import json
import os
import sys

import numpy as np

# --- etl_batches sizes -------------------------------------------------
BATCHES = 2
TRANSACTIONS = 4000       # rows per batch; ids live in 40000-49999
FLIGHTS = 5000
PASSENGERS = 5000
REQUESTS = 2000
AIRLINES = 24
AIRPORTS = 48
RESEND = 0.3              # share of keys re-sent by later batches

# --- ann_serving sizes -------------------------------------------------
DIM = 64
TOPICS = 32
GROUPS = 1100             # tight groups of GROUP vectors inside topics
GROUP = 11                # a vector's exact top-10 is the rest of its group
CELLS = 32                # IVF cells, trained by k-means on a sample
KMEANS_SAMPLE = 3000
KMEANS_ITERS = 8
CHURN = 400               # vectors per append/upsert request
CHURN_BASE_ID = 10_000_000

LETTERS = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
FIRST = ["james", "mary", "john", "linda", "omar", "yuki", "ana", "li",
         "fatima", "ivan", "chen", "sara", "diego", "emma", "noah", "amir"]
LAST = ["smith", "garcia", "kim", "okafor", "rossi", "muller", "tanaka",
        "silva", "novak", "haddad", "olsen", "dubois", "khan", "lopez"]
AIRCRAFT = ["boeing 737", "AIRBUS  A320", "embraer e190", "Boeing 787 ",
            "airbus a350", "  bombardier crj900"]
ALLIANCES = ["Oneworld", "SkyTeam", "Star Alliance", "None", "sky team",
             "staralliance", "one world", "", "SKYTEAM"]


def _write_csv(path, header, rows, bom=False):
    with open(path, "w", newline="", encoding="utf-8") as f:
        if bom:
            f.write("﻿")
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def _codes(rng, n, length):
    seen, out = set(), []
    while len(out) < n:
        c = "".join(rng.choice(LETTERS, length))
        if c not in seen and c != "JFK":
            seen.add(c)
            out.append(c)
    return out


def _near_miss(code, i, letter):
    return code[:i] + letter + code[i + 1:]


MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec"]


def _money(v, r):
    s = f"{v:,.2f}"
    if r < 0.15:
        return "$" + s
    if r < 0.25:
        return f"{v:.2f}"
    if r < 0.28:
        return ""
    return s.replace(",", "") if r < 0.6 else s


def _date(day, r):
    y, m, d = 2024, 1 + day // 28 % 12, 1 + day % 28
    if r < 0.4:
        return f"{y}-{m:02d}-{d:02d}"
    if r < 0.65:
        return f"{m:02d}/{d:02d}/{y}"
    if r < 0.85:
        return f"{d:02d}-{MONTHS[m - 1]}-{y % 100:02d}"
    if r < 0.97:
        return f"{y}/{MONTHS[m - 1]}/{d:02d}"
    return "not a date"


def _ts(minute):
    day, rem = divmod(int(minute), 1440)
    h, mi = divmod(rem, 60)
    return f"2024-{1 + day // 28 % 12:02d}-{1 + day % 28:02d} {h:02d}:{mi:02d}:00"


def _resend(rng, sent, n):
    """`n` keys drawn without replacement from those already sent."""
    if not sent or n == 0:
        return []
    return [sent[int(i)] for i in rng.choice(len(sent), n, replace=False)]


def etl_batches(seed, out):
    rng = np.random.default_rng(seed)
    airline_keys = _codes(rng, AIRLINES - 2, 2) + ["VS", "AZ"]
    airport_keys = _codes(rng, AIRPORTS - 1, 3) + ["JFK"]
    id_pool = [int(x) for x in rng.permutation(np.arange(40000, 50000))]
    next_id = 0
    sent_ids, flights_sent, passengers_sent = [], [], []
    fl_seq = 100
    for b in range(BATCHES):
        d = os.path.join(out, f"batch{b}")
        os.makedirs(d)

        # A2 airlines: key casing/padding, 4-char keys, dups, alliances
        r = rng.random(AIRLINES)
        r2 = rng.random(AIRLINES)
        al = rng.integers(0, len(ALLIANCES), AIRLINES)
        rows = []
        for i, k in enumerate(airline_keys):
            key = f"  {k.lower()} " if r[i] < 0.15 else k + "XY" if r[i] < 0.2 else k
            name = f"{k.lower()} air{' lines' if r2[i] < 0.5 else ''}"
            if r2[i] > 0.9:
                name += " #1"
            rows.append([key, name, ALLIANCES[al[i]]])
        rows += [rows[int(i)] for i in rng.integers(0, len(rows), 2)]
        _write_csv(os.path.join(d, "airlines.csv"),
                   ["AirlineKey", "AirlineName", "Alliance"], rows)

        # A5 airports: pass-through dimension
        rows = [[a, f"{a.title()} International", f"City{i}", "Country"]
                for i, a in enumerate(airport_keys)]
        _write_csv(os.path.join(d, "airports.csv"),
                   ["AirportKey", "AirportName", "City", "Country"], rows)

        # A3 flights (+ the A6 departure times eligibility reads)
        resent = _resend(rng, flights_sent, int(FLIGHTS * RESEND) if b else 0)
        n_new = FLIGHTS - len(resent)
        prefixes = rng.integers(0, AIRLINES, n_new)
        keys = resent + [f"{airline_keys[prefixes[i]]}{fl_seq + i}" for i in range(n_new)]
        fl_seq += n_new
        flights_sent += keys[len(resent):]
        n = len(keys)
        rk, ra, rt = rng.random(n), rng.random(n), rng.random(n)
        pos = rng.integers(0, 3, n)
        let = rng.choice(LETTERS, n)
        # origin index and a non-zero offset to the destination
        od = np.stack([rng.integers(0, AIRPORTS, n), rng.integers(1, AIRPORTS, n)], 1)
        sched = rng.integers(0, 200 * 1440, n)
        delay = rng.choice([0, 15, 45, 90, 119, 120, 121, 180, 300], n)
        craft = rng.integers(0, len(AIRCRAFT), n)
        rows = []
        for i, fk in enumerate(keys):
            key = (_near_miss(fk[:2], pos[i] % 2, let[i]) + fk[2:] if rk[i] < 0.05
                   else fk.lower() if rk[i] < 0.08 else fk)
            o = int(od[i, 0])
            org = airport_keys[o]
            dst = airport_keys[(o + int(od[i, 1])) % AIRPORTS]
            if ra[i] < 0.03:
                org = "JK"
            elif ra[i] < 0.07:
                dst = _near_miss(dst, pos[i], let[i])
            elif ra[i] < 0.09:
                dst = org
            s_txt, a_txt = _ts(sched[i]), _ts(sched[i] + delay[i] + b)
            if rt[i] < 0.02:
                a_txt = ""
            elif rt[i] < 0.04:
                s_txt = "garbage time"
            rows.append([key, org, dst, AIRCRAFT[craft[i]], s_txt, a_txt])
        rows += [rows[int(i)] for i in rng.integers(0, n, FLIGHTS // 50)]
        _write_csv(os.path.join(d, "flights.csv"),
                   ["FlightKey", "OriginAirportKey", "DestinationAirportKey",
                    "AircraftType", "ScheduledDeparture", "ActualDeparture"], rows)

        # A4 passengers: key digits in email, wrong domain, loyalty noise
        resent = _resend(rng, passengers_sent, int(PASSENGERS * RESEND) if b else 0)
        base = len(passengers_sent) + 1
        pkeys = resent + [f"P{(base + i) % 90000:05d}"
                          for i in range(PASSENGERS - len(resent))]
        passengers_sent += pkeys[len(resent):]
        n = len(pkeys)
        fi, li = rng.integers(0, len(FIRST), n), rng.integers(0, len(LAST), n)
        rn, re_, rd, rm = rng.random(n), rng.random(n), rng.random(n), rng.random(n)
        loy = rng.choice(["Bronze", "silver", "GOLD!", "sil ver", "Platinum",
                          "diamond", "gold"], n)
        rows = []
        for i, pk in enumerate(pkeys):
            fn, ln = FIRST[fi[i]], LAST[li[i]]
            email = (f"{fn}@mail.test" if rd[i] < 0.03 else
                     f"{fn}.{ln}{pk[1:] if re_[i] < 0.3 else ''}@example.com")
            rows.append(["" if rm[i] < 0.01 else pk,
                         f"{fn} {ln}" if rn[i] > 0.04 else fn, email, str(loy[i])])
        _write_csv(os.path.join(d, "passengers.csv"),
                   ["PassengerKey", "FullName", "Email", "LoyaltyStatus"], rows)

        # A1 transactions: id faults, mixed dates, money formats, dups
        resent = _resend(rng, sent_ids, int(TRANSACTIONS * RESEND) if b else 0)
        fresh = id_pool[next_id:next_id + TRANSACTIONS - len(resent)]
        next_id += len(fresh)
        sent_ids += fresh
        ids = resent + fresh
        n = len(ids)
        rid, rp, rf = rng.random(n), rng.random(n), rng.random(n)
        bad_id = rng.choice(LETTERS, (n, 2))
        pnum, p9 = rng.integers(0, 90000, n), rng.integers(0, 10000, n)
        fidx = rng.integers(0, len(flights_sent), n)
        price = rng.integers(5000, 250000, n) / 100
        bag = rng.choice([0.0, 25.0, 50.0], n)
        day = rng.integers(0, 300, n) + 7 * b
        rdate = rng.random(n)
        rmoney = rng.random((n, 4))
        rows = []
        for i, tid in enumerate(ids):
            tid_s = "4" + "".join(bad_id[i]) if rid[i] < 0.01 else str(tid)
            pid = ("" if rp[i] < 0.01 else f"P9{p9[i]:04d}" if rp[i] < 0.02
                   else f"P{pnum[i]:05d}")
            fid = "" if rf[i] < 0.01 else flights_sent[fidx[i]]
            tax = round(price[i] * 0.12, 2)
            rows.append([tid_s, _date(int(day[i]), rdate[i]), pid, fid,
                         _money(price[i], rmoney[i, 0]), _money(tax, rmoney[i, 1]),
                         _money(bag[i], rmoney[i, 2]),
                         _money(price[i] + tax + bag[i], rmoney[i, 3])])
        rows += [rows[int(i)] for i in rng.integers(0, n, TRANSACTIONS // 100)]
        order = rng.permutation(len(rows))
        _write_csv(os.path.join(d, "transactions.csv"),
                   ["TransactionID", "TransactionDate", "PassengerID", "FlightID",
                    "TicketPrice", "Taxes", "BaggageFees", "TotalAmount"],
                   [rows[int(i)] for i in order], bom=True)

        # A6 eligibility requests: found, missing flights, odd keys
        rr = rng.random(REQUESTS)
        ki = rng.integers(0, len(keys), REQUESTS)
        pr = rng.integers(0, 90000, REQUESTS)
        rows = [[f"R{b}-{i:06d}",
                 keys[ki[i]] if rr[i] < 0.9 else f"ZZ{900000 + i}" if rr[i] < 0.97
                 else str(i), f"P{pr[i]:05d}"] for i in range(REQUESTS)]
        _write_csv(os.path.join(d, "requests.csv"),
                   ["request_id", "flightkey", "passengerid"], rows)

        # A6 outbox: the same requests as eligibility_check messages (the
        # Kafka worker's input), with other message types and non-JSON lines
        os.makedirs(os.path.join(d, "outbox"))
        fi, li = rng.integers(0, len(FIRST), REQUESTS), rng.integers(0, len(LAST), REQUESTS)
        lines = []
        for i, (rid, fk, _) in enumerate(rows):
            lines.append(json.dumps(
                {"type": "eligibility_check", "requested_at": _ts(150 * 1440 + i),
                 "payload": {"firstName": FIRST[fi[i]], "lastName": LAST[li[i]],
                             "flightNumber": fk, "passengerId": rid}}, sort_keys=True))
            if i % 50 == 0:
                lines.append('{"type": "heartbeat"}' if i % 100 else f"not json {i}")
        with open(os.path.join(d, "outbox", "messages.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")


def _unit(v):
    """Rows scaled to unit length, so L2 and cosine rank alike."""
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _kmeans(rng, vecs):
    """Unit-length k-means centroids of a sample (elementwise arithmetic
    only, so the result does not depend on a BLAS build)."""
    x = vecs[rng.choice(len(vecs), KMEANS_SAMPLE, replace=False)]
    c = x[:CELLS].copy()
    for _ in range(KMEANS_ITERS):
        d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for k in range(CELLS):
            if (a == k).any():
                c[k] = x[a == k].mean(axis=0)
    return _unit(c)


def ann_serving(seed, out):
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    os.makedirs(out)
    topics = rng.standard_normal((TOPICS, DIM))
    groups = topics[rng.integers(0, TOPICS, GROUPS)] + \
        0.6 * rng.standard_normal((GROUPS, DIM))
    n = GROUPS * GROUP
    vecs = _unit(np.repeat(groups, GROUP, axis=0) + 0.15 * rng.standard_normal((n, DIM)))
    churn_centers = rng.standard_normal((4, DIM))

    def churn(n):
        a = rng.integers(0, len(churn_centers), n)
        return _unit(churn_centers[a] + 0.35 * rng.standard_normal((n, DIM)))

    def write(name, ids, v):
        t = pa.table({"vec_id": pa.array(ids, pa.int64()),
                      "embedding": pa.array([row.tolist() for row in v],
                                            pa.list_(pa.float64()))})
        pq.write_table(t, os.path.join(out, name))

    write("corpus.parquet", np.arange(n), vecs)
    write("centroids.parquet", np.arange(CELLS), _kmeans(rng, vecs))
    churn_ids = CHURN_BASE_ID + np.arange(CHURN)
    write("churn.parquet", churn_ids, churn(CHURN))
    write("churn_update.parquet", churn_ids[: CHURN // 2], churn(CHURN // 2))


def generate(workload, seed, out):
    """Write the workload's inputs under `out`."""
    {"etl_batches": etl_batches, "ann_serving": ann_serving}[workload](seed, out)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])

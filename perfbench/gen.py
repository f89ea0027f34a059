"""Seeded input generator for the benchmark.

Everything the program reads is made here from one integer seed, so the
same seed gives byte-identical inputs:

- weekly_cycle: wide HHS CSVs (97 columns) with the FIXTURES.md section 1
  edge rows, CMS quality CSVs with the section 2 edge rows, and parquet
  event drops in `WeeklyFeed.feedSchema`.
- the panels: TPC-H-shaped parquet tables in the layout and encodings of
  the verification testdata (one SNAPPY row group per file, microsecond
  timestamps without a zone), which `graft.Tables` loads.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

STATES = ("AL AK AZ AR CA CO CT DE FL GA HI ID IL IN IA KS KY LA ME MD MA MI MN "
          "MS MO MT NE NV NH NJ NM NY NC ND OH OK OR PA RI SC SD TN TX UT VT VA "
          "WA WV WI WY").split()

# The 8 metric columns the reference consumes (HhsLoad.MetricCols order).
HHS_METRICS = [
    "all_adult_hospital_beds_7_day_avg",
    "all_pediatric_inpatient_beds_7_day_avg",
    "all_adult_hospital_inpatient_bed_occupied_7_day_avg",
    "all_pediatric_inpatient_bed_occupied_7_day_avg",
    "total_icu_beds_7_day_avg",
    "icu_beds_used_7_day_avg",
    "inpatient_beds_used_covid_7_day_avg",
    "staffed_icu_adult_patients_confirmed_covid_7_day_avg",
]
HHS_ID_COLS = ["hospital_pk", "collection_week", "state", "ccn", "hospital_name",
               "address", "city", "zip", "hospital_subtype", "fips_code",
               "is_metro_micro", "geocoded_hospital_address"]
_FILLER_BASES = [
    "total_beds", "inpatient_beds", "inpatient_beds_used", "total_staffed_adult_icu_beds",
    "icu_patients_confirmed_influenza", "previous_day_admission_adult_covid_confirmed",
    "previous_day_admission_pediatric_covid_confirmed", "previous_day_covid_ed_visits",
    "previous_day_total_ed_visits", "total_adult_patients_hospitalized_confirmed_covid",
    "total_pediatric_patients_hospitalized_confirmed_covid", "staffed_adult_icu_bed_occupancy",
    "total_patients_hospitalized_confirmed_influenza", "previous_day_admission_influenza_confirmed",
    "all_adult_hospital_inpatient_beds", "inpatient_beds_used_covid",
    "total_icu_beds", "icu_beds_used", "staffed_icu_adult_patients_confirmed_covid",
    "previous_day_admission_adult_covid_suspected", "previous_day_admission_pediatric_covid_suspected",
    "total_adult_patients_hospitalized_confirmed_and_suspected_covid",
    "total_pediatric_patients_hospitalized_confirmed_and_suspected_covid",
    "staffed_icu_adult_patients_confirmed_and_suspected_covid",
    "total_personnel_covid_vaccinated_doses_all", "previous_week_patients_covid_vaccinated_doses_one",
    "total_patients_hospitalized_confirmed_influenza_and_covid",
]
HHS_FILLERS = [f"{b}_7_day_{s}" for b in _FILLER_BASES for s in ("sum", "coverage", "avg")
               if f"{b}_7_day_{s}" not in HHS_METRICS][:97 - len(HHS_ID_COLS) - len(HHS_METRICS)]
assert len(HHS_ID_COLS) + len(HHS_METRICS) + len(HHS_FILLERS) == 97

CMS_COLS = ["Facility ID", "Facility Name", "Address", "City", "State", "ZIP Code",
            "County Name", "Phone Number", "Hospital Type", "Hospital Ownership",
            "Emergency Services", "Meets criteria for promoting interoperability of EHRs",
            "Hospital overall rating", "Hospital overall rating footnote"] + [
    f"{g} Group Measure {k}" for g in ("MORT", "Safety", "READM", "Pt Exp", "TE")
    for k in ("Count", "Footnote", "Facility Count", "Count Better", "Count Worse")][:16]
RATINGS = np.array(["1", "2", "3", "4", "5", "Not Available", "", "0", "6", "3 "])
EMERGENCY = np.array(["Yes", "No", "YES", "yes", "", "no"])

# How often each edge row appears, and how skewed the users are.
# FIXTURES.md names the edge rows, not their rates, and no rate here is
# taken from a data source: each is an assumption, chosen so that every
# edge case shows up in every file at the benchmark's sizes. README.md
# lists them.
SENTINEL_RATE = 0.02       # HHS metric cells holding -999999
EMPTY_METRIC_RATE = 0.02   # HHS metric cells left empty
EMPTY_FILLER_RATE = 0.05   # empty cells in the HHS columns the reports ignore
DUP_EVERY = 211            # one hospital in 211 has a second row per week
BAD_POINT_EVERY = 97       # one hospital in 97 has a malformed POINT
NO_POINT_EVERY = 89        # one hospital in 89 has no POINT
CMS_COVERAGE = 0.95        # share of HHS hospitals in a CMS file
CMS_EXTRA_IDS = 0.11       # CMS ids absent from HHS, per HHS hospital
RATING_P = np.array([.14, .18, .2, .18, .14, .08, .02, .02, .02, .02])  # over RATINGS
EMERGENCY_P = np.array([.55, .2, .1, .05, .05, .05])                    # over EMERGENCY
USER_ZIPF = 1.3            # event share of the user of rank r goes as r ** -USER_ZIPF
EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
FIRST_WEEK = dt.date(2021, 1, 1)  # a Friday, like HHS collection weeks


def week_date(i):
    return FIRST_WEEK + dt.timedelta(weeks=i)


def _us(d):
    """Microseconds since the epoch at midnight UTC of date `d`."""
    return (d - dt.date(1970, 1, 1)).days * 86_400_000_000


def _write_csv(path, cols):
    table = pa.table(cols)
    pacsv.write_csv(table, path, pacsv.WriteOptions(include_header=True))
    return os.path.getsize(path)


def _write_parquet(path, cols, schema=None):
    pq.write_table(pa.table(cols, schema=schema), path, compression="snappy",
                   row_group_size=1 << 30)
    return os.path.getsize(path)


class Hospitals:
    """Stable per-hospital attributes; a week's CSV samples metrics around them."""

    def __init__(self, rng, n):
        self.n = n
        idx = np.arange(n)
        self.pk = np.array([f"{(i % 56):02d}{i:05d}" for i in idx])
        self.state = np.array(STATES)[rng.integers(0, len(STATES), n)]
        self.name = np.array([f"HOSPITAL {i} MEDICAL CENTER" for i in idx])
        self.address = np.array([f"{(i * 37) % 9000 + 1} MAIN ST" for i in idx])
        self.city = np.array([f"CITY {i % 700}" for i in idx])
        self.zip = np.array([f"{10000 + (i * 131) % 89000:05d}" for i in idx])
        self.fips = np.array([f"{(i * 7) % 56:02d}{i % 200:03d}" if i % 23 else ""
                              for i in idx])
        lon = rng.uniform(-124, -67, n)
        lat = rng.uniform(25, 49, n)
        point = np.array([f"POINT ({a:.6f} {b:.6f})" for a, b in zip(lon, lat)], dtype=object)
        # FIXTURES 1: malformed and missing POINTs, stable per hospital
        point[idx % BAD_POINT_EVERY == 5] = "POINT (not-a-point)"
        point[idx % NO_POINT_EVERY == 7] = None
        self.point = point
        self.scale = rng.uniform(20, 400, n)


def hhs_week_csv(rng, hosp, weeks, path):
    """One wide HHS CSV covering `weeks` (a list of week indexes)."""
    n = hosp.n
    rows = []
    for w in weeks:
        rows.append((np.arange(n), np.full(n, w)))
    hidx = np.concatenate([r[0] for r in rows])
    widx = np.concatenate([r[1] for r in rows])
    # FIXTURES 1: duplicate hospital_pk rows within a week
    dup = hidx[(hidx % DUP_EVERY == 3)]
    dupw = widx[(hidx % DUP_EVERY == 3)]
    hidx = np.concatenate([hidx, dup])
    widx = np.concatenate([widx, dupw])
    m = len(hidx)
    names = hosp.name[hidx].astype(object)
    names[n * len(weeks):] = [s + " ANNEX" for s in names[n * len(weeks):]]
    cols = {
        "hospital_pk": hosp.pk[hidx],
        "collection_week": np.array([week_date(int(w)).isoformat() for w in widx]),
        "state": hosp.state[hidx],
        "ccn": hosp.pk[hidx],
        "hospital_name": names,
        "address": hosp.address[hidx],
        "city": hosp.city[hidx],
        "zip": hosp.zip[hidx],
        "hospital_subtype": np.where(hidx % 5 == 0, "Critical Access Hospitals",
                                     "Short Term"),
        "fips_code": pa.array(hosp.fips[hidx], mask=hosp.fips[hidx] == ""),
        "is_metro_micro": np.where(hidx % 3 == 0, "false", "true"),
        "geocoded_hospital_address": pa.array(hosp.point[hidx], type=pa.string()),
    }
    base = hosp.scale[hidx]
    for j, c in enumerate(HHS_METRICS):
        v = np.round(base * rng.uniform(0.05, 1.0, m) * (1.0 if j < 4 else 0.2), 1)
        u = rng.random(m)
        sentinel = u < SENTINEL_RATE  # FIXTURES 1: -999999 sentinels
        empty = (u >= SENTINEL_RATE) & (u < SENTINEL_RATE + EMPTY_METRIC_RATE)  # and empty metrics
        v[sentinel] = -999999.0
        cols[c] = pa.array(v, mask=empty)
    for c in HHS_FILLERS:
        v = rng.integers(0, 500, m).astype(np.float64)
        cols[c] = pa.array(v, mask=rng.random(m) < EMPTY_FILLER_RATE)
    order = [*HHS_ID_COLS[:11], *HHS_METRICS[:4], *HHS_FILLERS[:40], HHS_ID_COLS[11],
             *HHS_METRICS[4:], *HHS_FILLERS[40:]]
    size = _write_csv(path, {c: cols[c] for c in order})
    return m, size


def cms_csv(rng, hosp, path):
    """One CMS quality CSV: most HHS hospitals plus ids absent from HHS."""
    n = hosp.n
    keep = np.flatnonzero(rng.random(n) < CMS_COVERAGE)
    extra = max(1, int(n * CMS_EXTRA_IDS))
    ids = np.concatenate([hosp.pk[keep], np.array([f"99{i:05d}" for i in range(extra)])])
    m = len(ids)
    ix = np.concatenate([keep, rng.integers(0, n, extra)])
    cols = {
        "Facility ID": ids,
        "Facility Name": np.array([f"FACILITY {s}" for s in ids]),
        "Address": hosp.address[ix],
        "City": hosp.city[ix],
        "State": hosp.state[ix],
        "ZIP Code": hosp.zip[ix],
        "County Name": np.array([f"COUNTY {i % 300}" for i in ix]),
        "Phone Number": np.array([f"({200 + i % 700}) 555-{i % 10000:04d}" for i in ix]),
        "Hospital Type": np.where(ix % 4 == 0, "Critical Access Hospitals",
                                  "Acute Care Hospitals"),
        "Hospital Ownership": np.array(["Proprietary", "Government - State",
                                        "Voluntary non-profit - Private"])[ix % 3],
        # FIXTURES 2: YES/No/empty emergency-services spellings
        "Emergency Services": rng.choice(EMERGENCY, m, p=EMERGENCY_P),
        "Meets criteria for promoting interoperability of EHRs": np.where(ix % 2, "Y", ""),
        # FIXTURES 2: Not Available, empty, 0, 6 and '3 ' ratings
        "Hospital overall rating": rng.choice(RATINGS, m, p=RATING_P),
        "Hospital overall rating footnote": np.where(ix % 7 == 0, "16", ""),
    }
    for c in CMS_COLS[14:]:
        cols[c] = rng.integers(0, 12, m).astype(str)
    size = _write_csv(path, {c: cols[c] for c in CMS_COLS})
    return m, size


FEED_SCHEMA = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
                         ("user_id", pa.int64()), ("event_type", pa.string()),
                         ("value", pa.float64())])


def feed_drop(rng, first_id, n_events, n_users, weeks, path):
    """Events over `weeks` (week indexes) in WeeklyFeed.feedSchema."""
    lo = _us(week_date(min(weeks)))
    hi = _us(week_date(max(weeks) + 1))
    ts = np.sort(rng.integers(lo, hi, n_events))
    # Zipf over the ranks 1..n_users; user id r-1 has rank r.
    share = np.arange(1, n_users + 1, dtype=np.float64) ** -USER_ZIPF
    users = rng.choice(n_users, n_events, p=share / share.sum())
    cols = {
        "event_id": np.arange(first_id, first_id + n_events, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "user_id": users.astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
    }
    return n_events, _write_parquet(path, cols, FEED_SCHEMA)


def weekly_inputs(seed, out, n_hosp, history_weeks, events_per_week, n_users):
    """History files (used by set-up) and the timed week's drops."""
    rng = np.random.default_rng(seed)
    hosp = Hospitals(rng, n_hosp)
    os.makedirs(out, exist_ok=True)
    files = {"history": {}}
    rows, size = hhs_week_csv(rng, hosp, list(range(history_weeks)), f"{out}/hhs_history.csv")
    files["history"]["hhs"] = {"path": "hhs_history.csv", "rows": rows, "bytes": size}
    rows, size = cms_csv(rng, hosp, f"{out}/cms_history.csv")
    files["history"]["cms"] = {"path": "cms_history.csv", "rows": rows, "bytes": size,
                               "rating_date": week_date(history_weeks - 1).isoformat()}
    n_hist = events_per_week * history_weeks
    rows, size = feed_drop(rng, 0, n_hist, n_users, list(range(history_weeks)),
                           f"{out}/feed_history.parquet")
    files["history"]["feed"] = {"path": "feed_history.parquet", "rows": rows, "bytes": size}
    w = history_weeks
    week = {"week": week_date(w).isoformat()}
    rows, size = hhs_week_csv(rng, hosp, [w], f"{out}/hhs_week.csv")
    week["hhs"] = {"path": "hhs_week.csv", "rows": rows, "bytes": size}
    rows, size = cms_csv(rng, hosp, f"{out}/cms_week.csv")
    week["cms"] = {"path": "cms_week.csv", "rows": rows, "bytes": size}
    rows, size = feed_drop(rng, n_hist, events_per_week, n_users, [w],
                           f"{out}/feed_week.parquet")
    week["feed"] = {"path": "feed_week.parquet", "rows": rows, "bytes": size}
    files["week"] = week
    return files


# ---- TPC-H-shaped panel tables --------------------------------------------

WORDS = np.array(("key agg row scan slow fast table value part hash the a line sort window "
                  "spark order data column join small customer query merge batch filter "
                  "group big vector stream").split())


def _ts_us(rng, start, end, n):
    return rng.integers(_us(start), _us(end) + 1, n) // 86_400_000_000 * 86_400_000_000


# Planted near-duplicates form chains of CHAIN_DOCS documents of CHAIN_WORDS
# words, one chain per 100 documents. Each link changes CHAIN_STEP words at
# slots three words apart, none changed by the link before, so neighbours
# share 36 of 60 distinct 3-word shingles (Jaccard 0.6, above ext.Dedup's 0.5
# cut) and documents two links apart share 24 of 72 (0.33, below it). Each
# chain is then a path whose lowest id is its first document, and x16's
# min-label propagation runs the same number of rounds for every seed:
# CHAIN_DOCS - 1 to reach the end and one to see nothing change. With
# chains of random shape the round count, and x16's time, varied by up to
# half between seeds.
CHAIN_DOCS = 5
CHAIN_WORDS = 50
CHAIN_STEP = 4
_SLOTS = np.arange(2, CHAIN_WORDS, 3)


def _near_dup_chain(rng):
    words = list(rng.choice(WORDS, CHAIN_WORDS))
    chain, last = [words], set()
    for _ in range(CHAIN_DOCS - 1):
        words = list(words)
        slots = rng.choice([x for x in _SLOTS if x not in last], CHAIN_STEP, replace=False)
        for x in slots:
            words[x] = str(rng.choice([w for w in WORDS if w != words[x]]))
        chain.append(words)
        last = set(slots)
    return chain


def panel_tables(seed, out, sf, tables):
    """The testdata tables `tables` at scale factor `sf`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_part = max(50, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_evt = int(1_000_000 * sf)
    n_user = max(20, int(15_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    ts = pa.timestamp("us")
    stats = {}

    def put(name, cols, schema=None):
        if name in tables:
            size = _write_parquet(f"{out}/{name}.parquet", cols, schema)
            stats[name] = {"rows": len(next(iter(cols.values()))), "bytes": size}

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                             "FURNITURE", "BUILDING"]), n_cust)})
    odate = _ts_us(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord)
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["P", "O", "F"]), n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odate, ts),
        "o_orderpriority": rng.choice(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                "4-NOT SPECIFIED", "5-LOW"]), n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_line),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n_line),
        "l_shipdate": pa.array(_ts_us(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
                               ts)})
    ets = np.sort(rng.integers(_us(dt.date(2024, 1, 1)), _us(dt.date(2024, 1, 31)), n_evt))
    put("events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ets, ts),
        "user_id": rng.integers(0, n_user, n_evt).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.uniform(0.01, 490.02, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(8, 100)))) for _ in range(n_doc)]
    for ids in np.sort(rng.permutation(n_doc)[:CHAIN_DOCS * max(1, n_doc // 100)]
                       .reshape(-1, CHAIN_DOCS), axis=1):
        for i, words in zip(ids, _near_dup_chain(rng)):
            texts[i] = " ".join(words)
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(["en", "zh", "de", "fr", "es"]), n_doc,
                           p=[.44, .15, .14, .13, .14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return stats

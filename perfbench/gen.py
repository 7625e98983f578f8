"""Seeded input generators for the benchmark.

`mimic` writes a MIMIC-IV-shaped `icu/` directory (the CSV layout
`graft.cli.Main` reads, columns in `graft.schemas.MimicSchemas` order);
`events` writes an `events.parquet` with the schema of the sf test
tables, which the `q_ts_*` gates read. The program sees only these files.

Work is kept nearly constant across seeds so that run-to-run spread comes
from the system, not from the inputs: the stay lengths are the same set of
quantiles of a long-tailed distribution on every seed (the seed only deals
them to stays), the number of events and of (stay, feature) rows of a stay
is a fixed function of its length, and every (user, event type) series spans
the same 30 days. The seed moves every time stamp, value, feature choice and
edge row.
"""
import statistics
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

HOUR = 3600
DAY = 86400
# 2150-01-01 00:00:00 UTC: MIMIC-IV shifts dates into the 22nd century
EPOCH0 = 5679590400

# (name, itemid base, pool size, features per stay, events per stay-hour)
SOURCES = [
    ("chartevents", 220000, 60, 24, 6.0),
    ("inputevents", 225000, 30, 8, 0.8),
    ("outputevents", 226000, 15, 4, 0.6),
    ("procedureevents", 227000, 15, 3, 0.15),
]
# share of stays that have no rows at all in a source (header-only files)
EMPTY_SHARE = {"chartevents": 0.02, "inputevents": 0.08,
               "outputevents": 0.04, "procedureevents": 0.08}


def _quantiles(rng, n):
    """The midpoints of n equal probability bands, in a seeded order."""
    return (rng.permutation(n) + 0.5) / n


def _ts(epoch_s):
    """epoch seconds -> 'yyyy-MM-dd HH:mm:ss' strings."""
    s = np.datetime_as_string(np.asarray(epoch_s, dtype="int64").astype("datetime64[s]"), unit="s")
    return np.char.replace(s, "T", " ")


def _write_csv(path, columns):
    pacsv.write_csv(pa.table(columns), str(path),
                    pacsv.WriteOptions(quoting_style="needed"))


def mimic(out_dir, seed, n_stays, rate_scale):
    """Write `{out_dir}/icu/*.csv`; return {file: data rows}.

    Edge rows (FIXTURES.md): events before `intime` (clamped to window 0)
    and after `outtime` (dropped), rows of stays missing from `icustays`,
    null `valuenum`, intervals with `starttime == endtime`, multi-day
    intervals, stays with no rows in a source, several events per
    (feature, window), and one stay whose length is an exact multiple of a
    day (the floor/ceil edge of the window grid).
    """
    rng = np.random.default_rng([seed, n_stays, int(rate_scale * 1000)])
    icu = Path(out_dir) / "icu"
    icu.mkdir(parents=True, exist_ok=True)
    nd = statistics.NormalDist()
    # long-tailed stay lengths: lognormal with a 2-day median, 3 h to 3 weeks
    z = np.array([nd.inv_cdf(u) for u in _quantiles(rng, n_stays)])
    dur = np.clip(np.exp(np.log(48 * HOUR) + 1.0 * z), 3 * HOUR, 21 * DAY).astype("int64")
    dur[0] = max(1, dur[0] // DAY) * DAY
    stay_ids = 30000000 + np.arange(n_stays, dtype="int64") * 17 + rng.integers(0, 17, n_stays)
    intime = EPOCH0 + rng.integers(0, 365 * DAY, n_stays)
    outtime = intime + dur
    counts = {}
    _write_csv(icu / "icustays.csv", {
        "subject_id": 10000000 + np.arange(n_stays, dtype="int64"),
        "hadm_id": 20000000 + np.arange(n_stays, dtype="int64"),
        "stay_id": stay_ids,
        "first_careunit": np.full(n_stays, "MICU"),
        "last_careunit": np.full(n_stays, "MICU"),
        "intime": _ts(intime), "outtime": _ts(outtime),
        "los": np.round(dur / DAY, 4)})
    counts["icustays.csv"] = n_stays
    items = [(base + k, name) for name, base, pool, _, _ in SOURCES for k in range(pool)]
    _write_csv(icu / "d_items.csv", {
        "itemid": np.array([i for i, _ in items], dtype="int64"),
        "label": np.array([f"item {i}" for i, _ in items]),
        "abbreviation": np.array([f"i{i}" for i, _ in items]),
        "linksto": np.array([s for _, s in items]),
        "category": np.full(len(items), "bench"),
        "unitname": np.full(len(items), "u"),
        "param_type": np.full(len(items), "Numeric"),
        "lownormalvalue": np.zeros(len(items)),
        "highnormalvalue": np.full(len(items), 100.0)})

    for name, base, pool, per_stay, rate in SOURCES:
        n_ev = np.rint(rate * rate_scale * dur / HOUR).astype("int64") + 1
        empty = rng.permutation(n_stays)[:int(round(EMPTY_SHARE[name] * n_stays))]
        n_ev[empty] = 0
        owner = np.repeat(np.arange(n_stays), n_ev)
        n = len(owner)
        # each stay draws its own feature subset; its first events cover the
        # subset (so the number of (stay, feature) rows is fixed by the
        # lengths), the rest pick within it
        subsets = np.stack([rng.choice(pool, per_stay, replace=False) for _ in range(n_stays)])
        rank = np.arange(n) - np.repeat(np.cumsum(n_ev) - n_ev, n_ev)
        pick = np.where(rank < per_stay, rank % per_stay, rng.integers(0, per_stay, n))
        feat = base + subsets[owner, pick]
        t = intime[owner] + (rng.uniform(0, 1, n) * dur[owner]).astype("int64")
        # bursts: a tenth of the events repeat the previous event's feature
        # a few minutes later, so (feature, window) cells hold several events
        burst = np.flatnonzero(rng.uniform(0, 1, n) < 0.1)
        burst = burst[(rank[burst] >= per_stay) & (owner[burst - 1] == owner[burst])]
        feat[burst] = feat[burst - 1]
        t[burst] = t[burst - 1] + rng.integers(0, 600, len(burst))
        # exactly 1% each of early, late and orphan rows
        edge = rng.permutation(n) / n
        before, after = edge < 0.01, (edge >= 0.01) & (edge < 0.02)
        t[before] = intime[owner[before]] - rng.integers(1, 6 * HOUR, before.sum())
        t[after] = outtime[owner[after]] + rng.integers(1, 12 * HOUR, after.sum())
        sid = stay_ids[owner].copy()
        orphan = (edge >= 0.02) & (edge < 0.03)
        sid[orphan] = 90000000 + rng.integers(0, 1000, orphan.sum())
        subj = 10000000 + owner
        hadm = 20000000 + owner
        store = _ts(t + 300)
        if name == "chartevents":
            v = np.round(rng.normal(80, 20, n), 2)
            valuenum = pa.array(v, mask=rng.uniform(0, 1, n) < 0.03)
            _write_csv(icu / "chartevents.csv", {
                "subject_id": subj, "hadm_id": hadm, "stay_id": sid,
                "charttime": _ts(t), "storetime": store, "itemid": feat,
                "value": np.char.mod("%.2f", v), "valuenum": valuenum,
                "valueuom": np.full(n, "unit"), "warning": np.zeros(n, dtype="int64").astype(str)})
        elif name == "outputevents":
            v = np.round(rng.uniform(10, 500, n), 1)
            _write_csv(icu / "outputevents.csv", {
                "subject_id": subj, "hadm_id": hadm, "stay_id": sid,
                "charttime": _ts(t), "storetime": store, "itemid": feat,
                "value": np.char.mod("%.1f", v), "valueuom": np.full(n, "mL")})
        else:
            kind = rng.uniform(0, 1, n)
            length = np.where(kind < 0.1, 0,  # starttime == endtime
                              np.where(kind < 0.2, rng.integers(DAY, 4 * DAY, n),  # multi-day
                                       rng.integers(60, 6 * HOUR, n)))
            end = t + length
            order = np.arange(n, dtype="int64")
            common = {"subject_id": subj, "hadm_id": hadm, "stay_id": sid,
                      "starttime": _ts(t), "endtime": _ts(end), "storetime": _ts(end + 60),
                      "itemid": feat}
            if name == "inputevents":
                amount = np.round(rng.uniform(1, 500, n), 3)
                _write_csv(icu / "inputevents.csv", dict(common, **{
                    "amount": amount, "amountuom": np.full(n, "mg"),
                    "rate": np.round(amount / np.maximum(length, 60) * HOUR, 3),
                    "rateuom": np.full(n, "mg/hour"),
                    "orderid": order, "linkorderid": order,
                    "ordercategoryname": np.full(n, "bench"),
                    "secondaryordercategoryname": np.full(n, "bench"),
                    "ordercomponenttypedescription": np.full(n, "bench"),
                    "ordercategorydescription": np.full(n, "Continuous Med"),
                    "patientweight": np.round(rng.uniform(40, 120, n), 1),
                    "totalamount": amount, "totalamountuom": np.full(n, "mg"),
                    "isopenbag": np.zeros(n, dtype="int64"),
                    "continueinnextdept": np.zeros(n, dtype="int64"),
                    "cancelreason": np.zeros(n, dtype="int64"),
                    "statusdescription": np.full(n, "FinishedRunning"),
                    "originalamount": amount, "originalrate": np.zeros(n)}))
            else:
                v = np.round(rng.uniform(1, 1440, n), 2)
                _write_csv(icu / "procedureevents.csv", dict(common, **{
                    "value": v, "valueuom": np.full(n, "min"),
                    "location": np.full(n, "bench"), "locationcategory": np.full(n, "bench"),
                    "orderid": order, "linkorderid": order,
                    "ordercategoryname": np.full(n, "bench"),
                    "ordercategorydescription": np.full(n, "Task"),
                    "patientweight": np.round(rng.uniform(40, 120, n), 1),
                    "isopenbag": np.zeros(n, dtype="int64"),
                    "continueinnextdept": np.zeros(n, dtype="int64"),
                    "statusdescription": np.full(n, "FinishedRunning"),
                    "originalamount": v, "originalrate": np.zeros(n)}))
        counts[f"{name}.csv"] = n
    return counts


EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def events(out_dir, seed, n_users, per_user):
    """Write `{out_dir}/events.parquet`: `per_user` events per user spread
    over 30 days (so each (user, type) series spans ~720 hourly windows),
    timestamps unique to the microsecond, values with two decimals
    and the sf tables' long tail. Returns {file: rows}."""
    rng = np.random.default_rng([seed, n_users, per_user])
    n = n_users * per_user
    hour_us = HOUR * 1_000_000
    span_us = 30 * DAY * 1_000_000
    # every (user, type) series has one event in the first hour and one in
    # the last, so each series spans and fills the same ~720 windows on
    # every seed; the other events fall anywhere in between
    k = len(EVENT_TYPES)
    ts = rng.choice(span_us - 2 * hour_us, n, replace=False) + hour_us
    etype = rng.integers(0, k, n)
    rank = np.arange(n) % per_user
    head, tail = rank < k, (rank >= k) & (rank < 2 * k)
    ts[head] = rng.choice(hour_us, head.sum(), replace=False)
    ts[tail] = span_us - hour_us + rng.choice(hour_us, tail.sum(), replace=False)
    etype[head | tail] = rank[head | tail] % k
    user = np.repeat(np.arange(n_users, dtype="int64"), per_user)
    order = np.argsort(ts)
    ts, user, etype = ts[order].astype("int64") + 1_704_067_200_000_000, user[order], etype[order]
    value = np.maximum(np.round(np.exp(rng.normal(2.3, 1.2, n)), 2), 0.01)
    table = pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": user,
        "event_type": EVENT_TYPES[etype],
        "value": value,
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"),
    })
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(Path(out_dir) / "events.parquet"))
    return {"events.parquet": n}

"""Output checks, made apart from the program and off the clock.

Pipeline workloads: DuckDB recomputes every source from the same CSVs
(clamp below window 0, drop above `total_windows`, drop stays missing from
`icustays`, the interval split into one mark per `step` from `starttime`,
mean or sum, the `0..floor((outtime-intime)/step)` grid, zero fill or
ffill) and the program's output must match it cell for cell within
TOLERANCE. CSV matrices are also checked for one file per stay per source,
the header width, and rows sorted by `feature_id`.

Gate workload: each gate's parquet must equal its `SparkEntry.oracleSql`
run in DuckDB, bit for bit, with the dtype-aware comparison of
`tools/check_correctness.py`.

Every checker is then run once more on a copy of the output with one cell
changed, and must reject it; a checker that accepts the copy is reported as
a failure of the run.

Each function returns (failed operations, notes); a note starting with
FAIL makes the run incorrect.
"""
import json
import sys
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# relative tolerance on mean/sum cells: Spark and DuckDB add in different orders
TOLERANCE = 1e-9
SOURCES = {  # name -> (time columns, value expression, combiner)
    "chartevents": (("charttime",), "CAST(valuenum AS DOUBLE)", "avg"),
    "inputevents": (("starttime", "endtime"),
                    "CAST(amount AS DOUBLE) / CAST(patientweight AS DOUBLE)", "sum"),
    "outputevents": (("charttime",), "CAST(value AS DOUBLE)", "sum"),
    "procedureevents": (("starttime", "endtime"), "CAST(value AS DOUBLE)", "sum"),
}


def _connect(tmp):
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{tmp}/duckdb'")
    return con


def _epoch(c):
    return f"CAST(floor(epoch(strptime({c}, '%Y-%m-%d %H:%M:%S'))) AS BIGINT)"


def _csv(path):
    return f"read_csv('{path}', header=true, all_varchar=true)"


def expected(con, icu, step, fill):
    """Create `stays` and one dense `exp_<source>` table per source."""
    con.execute(f"""CREATE OR REPLACE TABLE stays AS
        SELECT CAST(stay_id AS BIGINT) AS stay_id, intime,
          CAST(floor((outtime - intime) / {step}) AS BIGINT) AS tw
        FROM (SELECT stay_id, {_epoch('intime')} AS intime, {_epoch('outtime')} AS outtime
              FROM {_csv(icu / 'icustays.csv')})""")
    for name, (times, value, comb) in SOURCES.items():
        src = f"""SELECT CAST(stay_id AS BIGINT) AS stay_id, CAST(itemid AS BIGINT) AS feature_id,
            {', '.join(f'{_epoch(t)} AS t{i}' for i, t in enumerate(times))}, {value} AS value
            FROM {_csv(icu / f'{name}.csv')}"""
        if len(times) == 1:
            points = f"SELECT stay_id, feature_id, t0 AS t, value FROM ({src})"
        else:  # one mark per step from the start; the value split evenly
            points = f"""SELECT stay_id, feature_id, unnest(generate_series(t0, t1, {step})) AS t,
                value / (floor((t1 - t0) / {step}) + 1) AS value
                FROM ({src}) WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0"""
        filled = ("coalesce(c.v, 0.0)" if fill == "zero" else
                  """coalesce(last_value(c.v IGNORE NULLS) OVER (PARTITION BY g.stay_id,
                     g.feature_id ORDER BY g.tidx ROWS BETWEEN UNBOUNDED PRECEDING AND
                     CURRENT ROW), 0.0)""")
        con.execute(f"""CREATE OR REPLACE TABLE exp_{name} AS
            WITH b AS (
              SELECT p.stay_id, p.feature_id, s.tw, p.value,
                greatest(CAST(floor((p.t - s.intime) / {step}) AS BIGINT), 0) AS tidx
              FROM ({points}) p JOIN stays s USING (stay_id)),
            c AS (SELECT stay_id, feature_id, tidx, {comb}(value) AS v
                  FROM b WHERE tidx <= tw GROUP BY ALL),
            g AS (SELECT stay_id, feature_id, unnest(generate_series(0, tw)) AS tidx
                  FROM (SELECT DISTINCT stay_id, feature_id FROM c) JOIN stays USING (stay_id))
            SELECT g.stay_id, g.feature_id, g.tidx, {filled} AS value
            FROM g LEFT JOIN c USING (stay_id, feature_id, tidx)""")


def _mismatches(con, name, got):
    con.register("got", got)
    n = con.execute(f"""SELECT count(*) FROM exp_{name} e
        FULL OUTER JOIN got g USING (stay_id, feature_id, tidx)
        WHERE e.value IS NULL OR g.value IS NULL
           OR abs(e.value - g.value) > {TOLERANCE} * greatest(1.0, abs(e.value))""").fetchone()[0]
    con.unregister("got")
    return n


def _long(parts):
    cols = ("stay_id", "feature_id", "tidx", "value")
    if not parts:
        return pa.table({c: pa.array([], type=pa.float64() if c == "value" else pa.int64())
                         for c in cols})
    return pa.table({c: np.concatenate([p[i] for p in parts]) for i, c in enumerate(cols)})


def _parse_matrix(path, stay, tw):
    """One CSV matrix -> (long-form arrays, structural problems)."""
    lines = Path(path).read_text().splitlines()
    problems = []
    header = "feature_id," + ",".join(str(i) for i in range(tw + 1))
    if not lines or lines[0] != header:
        problems.append(f"{path}: header is not feature_id,0..{tw}")
    rows = [ln.split(",") for ln in lines[1:]]
    if any(len(r) != tw + 2 for r in rows):
        problems.append(f"{path}: a row is not {tw + 2} fields wide")
        rows = [r for r in rows if len(r) == tw + 2]
    feats = np.array([int(r[0]) for r in rows], dtype="int64")
    if len(feats) > 1 and not np.all(np.diff(feats) > 0):
        problems.append(f"{path}: rows are not sorted by feature_id")
    vals = np.array([v for r in rows for v in r[1:]], dtype="float64")
    w = tw + 1
    arrays = (np.full(len(vals), stay, dtype="int64"), np.repeat(feats, w),
              np.tile(np.arange(w, dtype="int64"), len(feats)), vals)
    return arrays, problems, len(rows) == 0


def check_pipeline(input_dir, out, tmp, seed, step, fill, sink):
    con = _connect(tmp)
    expected(con, Path(input_dir) / "icu", step, fill)
    tw = dict(con.execute("SELECT stay_id, tw FROM stays").fetchall())
    rng = np.random.default_rng(seed)
    bad, notes = 0, []
    if sink == "csv":
        stay_dirs = {p.name for p in Path(out).iterdir() if p.is_dir()}
        if stay_dirs != {str(s) for s in tw}:
            notes.append(f"FAIL stay directories differ from icustays "
                         f"({len(stay_dirs)} vs {len(tw)})")
    for name in SOURCES:
        problems = []
        if sink == "csv":
            parsed = {}
            for stay, w in tw.items():
                f = Path(out) / str(stay) / f"{name}_features.csv"
                if not f.exists():
                    problems.append(f"{f}: missing")
                    continue
                arrays, p, dummy = _parse_matrix(f, stay, w)
                problems += p
                parsed[stay] = (arrays, dummy, f)
            got = _long([a for a, _, _ in parsed.values()])
            # one-cell mutant: a copy of one non-empty matrix with a cell changed
            victim = sorted(s for s, (_, dummy, _) in parsed.items() if not dummy)
            victim = victim[rng.integers(len(victim))]
            lines = parsed[victim][2].read_text().splitlines()
            row = 1 + rng.integers(len(lines) - 1)
            cells = lines[row].split(",")
            col = 1 + rng.integers(len(cells) - 1)
            cells[col] = repr(float(cells[col]) + 1.0)
            lines[row] = ",".join(cells)
            copy = Path(tmp) / f"mutant_{name}.csv"
            copy.write_text("\n".join(lines) + "\n")
            mutant_arrays, _, _ = _parse_matrix(copy, victim, tw[victim])
            mutant = _long([mutant_arrays if s == victim else a for s, (a, _, _) in parsed.items()])
        else:
            files = sorted((Path(out) / "long" / f"source={name}").glob("*.parquet"))
            got = pq.read_table(files, columns=["stay_id", "feature_id", "tidx", "value"]) \
                if files else _long([])
            nonempty = [f for f in files if pq.read_metadata(f).num_rows > 0]
            victim = nonempty[rng.integers(len(nonempty))]
            t = pq.read_table(victim)
            v = t.column("value").to_numpy().copy()
            v[rng.integers(len(v))] += 1.0
            copy = Path(tmp) / f"mutant_{name}.parquet"
            pq.write_table(t.set_column(t.schema.get_field_index("value"), "value", pa.array(v)),
                           copy)
            mutant = pq.read_table([copy if f == victim else f for f in files],
                                   columns=["stay_id", "feature_id", "tidx", "value"])
        n = _mismatches(con, name, got)
        if n or problems:
            bad += 1
            notes.append(f"FAIL {name}: {n} cells differ from the DuckDB recomputation; "
                         f"{len(problems)} structural problems {problems[:3]}")
        else:
            notes.append(f"ok {name}: {got.num_rows} cells match the DuckDB recomputation")
        if _mismatches(con, name, mutant) == 0:
            notes.append(f"FAIL {name}: the checker accepted a copy with one cell changed")
    if sink != "csv":
        con.execute(f"""CREATE OR REPLACE TABLE got_stays AS SELECT stay_id, total_windows
            FROM read_parquet('{out}/long_stays/*.parquet')""")
        n = con.execute("""SELECT count(*) FROM stays s FULL OUTER JOIN got_stays g
            USING (stay_id) WHERE s.tw IS DISTINCT FROM g.total_windows""").fetchone()[0]
        if n:
            notes.append(f"FAIL long_stays: {n} stays differ from icustays")
    return bad, notes


def check_gates(root, input_dir, out, oracle_json, tmp, seed):
    tools = Path(root) / "tools"
    sys.path.insert(0, str(tools))
    import check_correctness as cc  # the repository's dtype-aware comparison

    con = _connect(tmp)
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{input_dir}/events.parquet')")
    oracle = json.loads(Path(oracle_json).read_text())
    rng = np.random.default_rng(seed)

    def compare(parquet_glob, sql):
        scols, stypes, srows = cc.typed_rows_of(con, f"SELECT * FROM read_parquet({parquet_glob})")
        ocols, otypes, orows = cc.typed_rows_of(con, sql)
        if (scols, stypes, len(srows)) != (ocols, otypes, len(orows)):
            return f"columns/types/rows {scols} {stypes} {len(srows)} != {ocols} {otypes} {len(orows)}"
        for i, (a, b) in enumerate(zip(srows, orows)):
            if not all(cc.cells_equal(x, y) for x, y in zip(a, b)):
                return f"row {i}: {a} != {b}"
        return None

    bad, notes = 0, []
    for g, sql in sorted(oracle.items()):
        files = sorted((Path(out) / g).glob("*.parquet"))
        if not files:
            bad += 1
            notes.append(f"FAIL {g}: no output")
            continue
        err = compare(f"'{out}/{g}/*.parquet'", sql)
        if err:
            bad += 1
            notes.append(f"FAIL {g}: {err}")
        else:
            notes.append(f"ok {g}: equals its oracle")
        # one-cell mutant of one part file, read back in place of the original
        nonempty = [f for f in files if pq.read_metadata(f).num_rows > 0]
        victim = nonempty[rng.integers(len(nonempty))]
        t = pq.read_table(victim)
        c = [i for i, f in enumerate(t.schema) if pa.types.is_floating(f.type)
             or pa.types.is_integer(f.type)][-1]
        v = t.column(c).to_pylist()
        k = rng.integers(len(v))
        v[k] = (v[k] or 0) + 1
        copy = Path(tmp) / f"mutant_{g}.parquet"
        pq.write_table(t.set_column(c, t.schema[c], pa.array(v, type=t.schema[c].type)), copy)
        paths = ", ".join(f"'{copy if f == victim else f}'" for f in files)
        if compare(f"[{paths}]", sql) is None:
            notes.append(f"FAIL {g}: the checker accepted a copy with one cell changed")
    return bad, notes

"""Correctness checks of a benchmark run, computed apart from the program.

DuckDB recomputes every state table, route answer and registry entry from
the generated inputs; the harness's outputs must match exactly. Each check
returns a list of problems (empty when the run is correct). `selftest`
corrupts a correct run's outputs in the ways a faulty program would and
confirms that every check catches it.
"""
import copy
import glob
import json
import os
import shutil
from decimal import Decimal, ROUND_HALF_UP

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_MS = 86_400_000
TRAILING = [("m5", 300_000), ("h1", 3_600_000), ("d1", 86_400_000),
            ("d7", 604_800_000), ("d30", 2_592_000_000)]


def _py(v):
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, float) and v.is_integer():
        return int(v)
    return v


def _rows(rel_rows):
    return sorted(tuple(_py(v) for v in r) for r in rel_rows)


def _compare(name, got_cols, got_rows, want_cols, want_rows):
    if sorted(got_cols) != sorted(want_cols):
        return [f"{name}: columns {got_cols} != {want_cols}"]
    idx = [want_cols.index(c) for c in got_cols]
    want = _rows([[r[i] for i in idx] for r in want_rows])
    got = _rows(got_rows)
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows != {len(want)} expected"]
    for g, w in zip(got, want):
        if g != w:
            return [f"{name}: row {g} != expected {w}"]
    return []


class LiveOracle:
    """DuckDB views over the preload plus the first `slices` slices."""

    def __init__(self, input_dir, plan, slices):
        self.plan = plan
        self.con = duckdb.connect()
        files = [f"{input_dir}/preload"] + [
            f"{input_dir}/slices/{s:04d}" for s in range(slices)]
        ev = ", ".join(f"'{f}/events.parquet'" for f in files)
        docs = ", ".join(f"'{f}/documents.parquet'" for f in files)
        w = plan["window_ms"]
        c = self.con
        c.register("emote_dict", pa.table({"emote": plan["emotes"]}))
        c.execute(f"""CREATE VIEW m AS SELECT event_type AS channel,
            CAST(user_id AS VARCHAR) AS username,
            (epoch_ms(ts) // {w}) * {w} + {w} AS ts,
            filename FROM read_parquet([{ev}], filename = true)""")
        c.execute(f"""CREATE VIEW d AS SELECT lang AS channel,
            source AS username, text FROM read_parquet([{docs}])""")
        c.execute("""CREATE TABLE channel AS SELECT channel, ts,
            count(*) AS messages FROM m GROUP BY 1, 2""")
        c.execute("""CREATE TABLE "user" AS SELECT channel, username, ts,
            count(*) AS messages FROM m GROUP BY 1, 2, 3""")
        c.execute("""CREATE TABLE tok AS SELECT channel, username, emote FROM
            (SELECT channel, username,
              unnest(regexp_split_to_array(text, '\\s+')) AS emote FROM d)
            WHERE emote IN (SELECT emote FROM emote_dict)""")
        c.execute("""CREATE TABLE emote AS SELECT channel, emote,
            count(*) AS occurrences FROM tok GROUP BY 1, 2""")
        c.execute("""CREATE TABLE user_emote AS SELECT channel, emote,
            username, count(*) AS occurrences FROM tok GROUP BY 1, 2, 3""")
        parts = []
        for name, regex, cf, _ in plan["phrases"]:
            where = f"WHERE regexp_matches(channel, '(?i){cf}')" if cf else ""
            parts.append(f"""SELECT channel, '{name}' AS phrase_name,
                len(regexp_extract_all(text, '{regex}')) AS matches
                FROM d {where}""")
        c.execute(f"""CREATE TABLE phrase AS SELECT channel, phrase_name,
            sum(matches) AS matches FROM ({' UNION ALL '.join(parts)})
            WHERE matches > 0 GROUP BY 1, 2""")

    def q(self, sql, *params):
        cur = self.con.execute(sql, list(params))
        return [d[0] for d in cur.description], cur.fetchall()

    def visible_totals_by_slice(self):
        """Per-channel message counts of the preload and of each slice."""
        _, rows = self.q("SELECT filename, channel, count(*) FROM m GROUP BY 1, 2")
        out = {}
        for f, ch, n in rows:
            key = -1 if "/preload/" in f else int(f.split("/slices/")[1][:4])
            out.setdefault(key, {})[ch] = n
        return out

    def answer(self, name, p):
        """Expected parts of one dashboard request."""
        hidden = self.plan["hidden"]
        u, e, c, now = p["user"], p["emote"], p["channel"], p["now"]
        totals = self.q("""SELECT channel, sum(messages) AS messages FROM channel
            WHERE channel <> ? GROUP BY 1""", hidden)
        if name == "channels":
            return {"totals": totals}
        if name == "emote_stats":
            return {"top": self.q("""SELECT emote, sum(occurrences) AS occurrences
                FROM emote WHERE channel <> ? GROUP BY 1
                ORDER BY 2 DESC, 1 LIMIT 10""", hidden), "totals": totals}
        if name == "user":
            return {"totals": self.q("""SELECT channel, sum(messages) AS messages
                FROM "user" WHERE username = ? GROUP BY 1""", u),
                "last_seen": self.q("""SELECT channel, max(ts) AS last_seen
                FROM "user" WHERE username = ? GROUP BY 1""", u)}
        if name == "user_emote":
            chans = ", ".join(f"('{x}')" for x in self.plan["channels"])
            return {"counts": self.q(f"""SELECT ch.channel,
                coalesce(sum(ue.occurrences), 0) AS occurrences
                FROM (VALUES {chans}) ch(channel) LEFT JOIN user_emote ue
                ON ue.channel = ch.channel AND ue.username = ? AND ue.emote = ?
                GROUP BY 1""", u, e)}
        if name == "channel":
            sums = ", ".join(
                f"coalesce(sum(CASE WHEN ts > {now - s} THEN messages END), 0) AS {n}"
                for n, s in TRAILING)
            return {"totals": self.q("""SELECT channel, sum(messages) AS messages
                FROM channel WHERE channel = ? GROUP BY 1""", c),
                "trailing": self.q(f"SELECT {sums} FROM channel WHERE channel = ?", c),
                "top": self.q("""SELECT emote, sum(occurrences) AS occurrences
                FROM emote WHERE channel = ? GROUP BY 1
                ORDER BY 2 DESC, 1 LIMIT 10""", c)}
        if name == "cumulative_base":
            return {"base": self.q("""SELECT channel, sum(messages) AS messages
                FROM channel WHERE ts > 0 AND ts < ? GROUP BY 1""", now - DAY_MS)}
        if name == "cumulative_sums":
            return {"sums": self.q("""SELECT channel, ts, sum(messages) OVER
                (PARTITION BY channel ORDER BY ts ROWS UNBOUNDED PRECEDING)
                AS messages FROM channel WHERE ts > ?""", now - 6 * 3_600_000)}
        if name == "resample":
            _, series = self.q("""SELECT ts, messages FROM channel
                WHERE channel = ? AND ts > ? ORDER BY ts""", c, now - DAY_MS)
            return {"series": (["channel", "ts", "messages"],
                               [(c, t, v) for t, v in resample(series, 24)])}
        if name == "ranked":
            return {"top": self.q("""SELECT username, messages, rank FROM
                (SELECT username, sum(messages) AS messages, row_number() OVER
                  (ORDER BY sum(messages) DESC, username) AS rank
                 FROM "user" GROUP BY 1) WHERE rank <= 100""")}
        raise ValueError(name)


def _half_up(x):
    return int(Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def resample(series, num_points):
    """The dashboard's down-sampling with linear interpolation
    (MainController.php resampleTimeSeries, as Serving.resample documents
    it): a grid of `num_points` from the first to the last sample, each
    point interpolated between its neighbouring samples, half-up rounded."""
    n = len(series)
    np0 = max(num_points, 2)
    if n <= np0:
        return list(series)
    start, end = series[0][0], series[-1][0]
    if start == end:
        end, np0 = start + 60_000, 2
    step = (end - start + np0 - 2) // (np0 - 1)
    grid = list(range(start, end, step)) + [end]
    out = []
    for t in grid:
        if t <= series[0][0]:
            v = series[0][1]
        elif t >= series[-1][0]:
            v = series[-1][1]
        else:
            b = max(s for s in series if s[0] <= t)
            a = min(s for s in series if s[0] > t)
            v = _half_up(b[1] + (t - b[0]) / (a[0] - b[0]) * (a[1] - b[1]))
        out.append((t, v))
    return out


def _parquet(path):
    t = pq.read_table(path)
    return t.column_names, [tuple(r.values()) for r in t.to_pylist()]


def check_live(run_dir, plan, res):
    problems = []
    oracle = LiveOracle(f"{run_dir}/input", plan, res["slices"])
    counts = oracle.visible_totals_by_slice()
    hidden = plan["hidden"]
    for v in res["visible"]:
        want = {}
        for key in [-1] + list(range(v["slices"])):
            for ch, n in counts.get(key, {}).items():
                if ch != hidden:
                    want[ch] = want.get(ch, 0) + n
        got = {r[0]: r[1] for r in v["totals"]["rows"]}
        if got != want:
            problems.append(f"read-your-writes after slice {v['slices']}: "
                            f"{got} != {want}")
            break
    for grain in ["channel", "user", "emote", "user_emote", "phrase"]:
        cols, rows = _parquet(f"{run_dir}/out/state/{grain}")
        wcols, wrows = oracle.q(f'SELECT * FROM "{grain}"')
        problems += _compare(f"state {grain}", cols, rows, wcols, wrows)
    for name, last in sorted(res["last"].items()):
        want = oracle.answer(name, last["params"])
        for part, (wcols, wrows) in want.items():
            got = last["answer"][part]
            problems += _compare(f"route {name}.{part}", got["columns"],
                                 [tuple(r) for r in got["rows"]], wcols, wrows)
    return problems


def check_corpus(run_dir, plan, res):
    """Each entry's output against its registry oracle SQL, compared as
    scripts/check.py does: columns by name, rows sorted, values exact."""
    con = duckdb.connect()
    for p in glob.glob(f"{run_dir}/input/corpus/*.parquet"):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    with open(f"{run_dir}/out/oracle_sql.json") as f:
        oracle = json.load(f)
    problems = []
    for entry in plan["entries"]:
        got = con.execute(
            f"SELECT * FROM '{run_dir}/out/entries/{entry}/*.parquet'").fetchdf()
        want = con.execute(oracle[entry]).fetchdf()
        got, want = got[sorted(got.columns)], want[sorted(want.columns)]
        if list(got.columns) != list(want.columns):
            problems.append(f"{entry}: columns {list(got.columns)} != "
                            f"{list(want.columns)}")
            continue
        if len(got) != len(want):
            problems.append(f"{entry}: {len(got)} rows != {len(want)} expected")
            continue
        cols = list(got.columns)
        gs = got.sort_values(by=cols).reset_index(drop=True)
        ws = want.sort_values(by=cols).reset_index(drop=True)
        for c in cols:
            a, b = gs[c], ws[c]
            if a.dtype.kind in "fc" or b.dtype.kind in "fc":
                same = np.allclose(a.astype(float), b.astype(float),
                                   rtol=0, atol=0, equal_nan=True)
            else:
                same = bool((a.astype(str) == b.astype(str)).all())
            if not same:
                problems.append(f"{entry}: column {c} differs")
                break
    return problems


CHECKS = {"live": check_live, "corpus": check_corpus}


def check(workload, run_dir, plan, res):
    return CHECKS[workload](run_dir, plan, res)


def _bump_first_int(path, column):
    """Rewrite a parquet output with one value of `column` changed by one."""
    files = sorted(glob.glob(f"{path}/*.parquet"))
    t = pq.read_table(files[0])
    i = t.column_names.index(column)
    vals = t.column(i).to_pylist()
    vals[0] = vals[0] + 1
    t = t.set_column(i, t.schema.field(i), [vals])
    pq.write_table(t, files[0])


def selftest(workload, run_dir, plan, res):
    """Corrupt a correct run's outputs; every corruption must be caught.
    Returns (corruption, caught) pairs."""
    out = []

    def attempt(label, mutate):
        scratch = f"{run_dir}/selftest"
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.copytree(f"{run_dir}/out", f"{scratch}/out")
        os.symlink(f"{run_dir}/input", f"{scratch}/input")
        r = copy.deepcopy(res)
        mutate(scratch, r)
        out.append((label, bool(check(workload, scratch, plan, r))))
        shutil.rmtree(scratch)

    if workload == "live":
        def skipped(d, r):
            r["slices"] += 1  # the program claims a batch its state lacks
        def ryw(d, r):
            row = r["visible"][-1]["totals"]["rows"][0]
            row[1] += 1
        def route(d, r):
            part = r["last"]["channel"]["answer"]["totals"]["rows"][0]
            part[1] += 1
        attempt("skipped batch", skipped)
        attempt("read-your-writes total off by one", ryw)
        attempt("route answer off by one", route)
        for grain, col in [("channel", "messages"), ("user", "messages"),
                           ("emote", "occurrences"),
                           ("user_emote", "occurrences"), ("phrase", "matches")]:
            attempt(f"state {grain}: one row changed",
                    lambda d, r, g=grain, c=col:
                        _bump_first_int(f"{d}/out/state/{g}", c))
    else:
        for entry in plan["entries"]:
            def one_row(d, r, e=entry):
                files = sorted(glob.glob(f"{d}/out/entries/{e}/*.parquet"))
                t = pq.read_table(files[0])
                pq.write_table(t.slice(0, max(0, t.num_rows - 1)), files[0])
            attempt(f"{entry}: one row dropped", one_row)
    return out

"""Correctness checks for every op the harness ran, made apart from
Spark: DuckDB over the same Parquet, with the FinLogic arithmetic
replayed in Python floats (IEEE doubles, as on the JVM), and the graph
queries' oracle SQL from `SparkEntry.oracleSql`.

Round 0's outputs and the set-up's warm-up calls are recomputed; every
later round must reproduce round 0's output hash. Checks run after the
timed rounds. Typed cell comparison and the row order of the graph
checks come from the repository's own oracle checker, scripts/check.py.
"""
import importlib.util
import math
import os
import re
import sys
from decimal import Decimal

import duckdb

_CHECKER = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "scripts", "check.py")
if not os.path.isfile(_CHECKER):
    sys.exit("check: scripts/check.py not found; run from the root of a checkout")
_spec = importlib.util.spec_from_file_location("oracle_check", _CHECKER)
oracle_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(oracle_check)

MIN_VOLUME = 100_000.0
CUTOFF = 1_000_000.0
TAX_RATE = 0.34
UNITS = {"t": 1000.0, "m": 1000000.0, "b": 1000000000.0}

REPORT_PREFIXES = {
    "balance_sheet": ("1", "2"), "assets": ("1",), "cash": ("1.01.01", "1.01.02"),
    "current_assets": ("1.01",), "non_current_assets": ("1.02",),
    "liabilities": ("2.01", "2.02"), "debt": ("2.01.04", "2.02.01"),
    "current_liabilities": ("2.01",), "non_current_liabilities": ("2.02",),
    "liabilities_and_equity": ("2",), "equity": ("2.03",), "income_statement": ("3",),
    "earnings_per_share": ("3.99",), "cash_flow": ("6",)}
INDICATOR_CODES = {
    "1": "total_assets", "1.01": "current_assets", "1.01.01": "cash_equivalents",
    "1.01.02": "financial_investments", "2.01": "current_liabilities",
    "2.01.04": "short_term_debt", "2.02.01": "long_term_debt", "2.03": "equity",
    "3.01": "revenues", "3.03": "gross_profit", "3.05": "ebit", "3.07": "ebt",
    "3.08": "effective_tax", "3.11": "net_income", "6.01": "operating_cash_flow",
    "6.01.01.04": "depreciation_amortization", "3.99.01.01": "eps"}
CURRENCY = {"total_assets", "current_assets", "current_liabilities", "equity", "revenues",
            "gross_profit", "ebit", "ebt", "effective_tax", "net_income",
            "operating_cash_flow", "depreciation_amortization", "total_cash", "total_debt",
            "net_debt", "working_capital", "ebitda", "invested_capital"}
INDICATOR_ORDER = [
    "total_assets", "current_assets", "total_cash", "working_capital", "invested_capital",
    "current_liabilities", "total_debt", "net_debt", "equity", "revenues", "gross_profit",
    "net_income", "ebitda", "ebit", "ebt", "effective_tax", "operating_cash_flow",
    "depreciation_amortization", "effective_tax_rate", "return_on_assets",
    "return_on_equity", "roic", "gross_margin", "ebitda_margin", "operating_margin",
    "net_margin", "eps"]


def rows_equal(got, want):
    """None when the rows are equal cell by cell, typed and exact (NaN
    equal to NaN), else where they first differ."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        why = oracle_check.cells_equal(list(g), list(w), f"row {i}")
        if why:
            return f"{why} (got {list(g)!r}, expected {list(w)!r})"
    return None


def ieee_divide(num, den):
    if den != 0.0:
        return num / den
    if num == 0.0:
        return math.nan
    return math.inf if num > 0 else -math.inf


def indicator_rows(facts):
    """Replays the indicator build for one (company, method): facts is
    [(code, value, is_annual, period)] over the indicator codes. Returns
    {period: values} for the annual periods and the trailing quarter."""
    best = {}
    for code, v, annual, p in facts:   # keep-last: annual first, then larger value
        if (code, p) not in best or (annual, v) > best[(code, p)]:
            best[(code, p)] = (annual, v)
    groups = {True: {}, False: {}}
    for (code, p), (annual, v) in best.items():
        groups[annual].setdefault(p, {})[INDICATOR_CODES[code]] = v
    out = {}
    for annual, by_period in groups.items():
        rows = []
        for p in sorted(by_period):
            x = {n: by_period[p].get(n, 0.0) for n in INDICATOR_CODES.values()}
            tc = x["cash_equivalents"] + x["financial_investments"]
            td = x["short_term_debt"] + x["long_term_debt"]
            r = {k: v for k, v in x.items() if k not in (
                "cash_equivalents", "financial_investments", "short_term_debt", "long_term_debt")}
            r.update(total_cash=tc, total_debt=td,
                     working_capital=x["current_assets"] - x["current_liabilities"],
                     effective_tax_rate=ieee_divide(-x["effective_tax"], x["ebt"]),
                     ebitda=x["ebit"] + x["depreciation_amortization"],
                     invested_capital=td + x["equity"] - tc, net_debt=td - tc)
            rows.append((p, r))
        for i, (p, r) in enumerate(rows):
            for c in ("invested_capital", "total_assets", "equity"):
                if annual:
                    prev = rows[i - 1][1][c] if i >= 1 else r[c]
                else:
                    prev = rows[i - 4][1][c] if i >= 4 else rows[i - 1][1][c] if i >= 1 else r[c]
                r["avg_" + c] = (r[c] + prev) / 2
        if not annual:
            rows = rows[-1:]               # the trailing (LTM) quarter only
        for p, r in rows:
            def guard(den, num):
                return num / den if den > CUTOFF else 0.0
            after_tax = r["ebit"] * (1 - TAX_RATE)
            rev = r["revenues"]
            r.update(gross_margin=guard(rev, r["gross_profit"]),
                     ebitda_margin=guard(rev, r["ebitda"]),
                     operating_margin=guard(rev, r["ebit"]),
                     net_margin=guard(rev, r["net_income"]),
                     return_on_assets=guard(r["avg_total_assets"], after_tax),
                     return_on_equity=guard(r["avg_equity"], after_tax),
                     roic=guard(r["avg_invested_capital"], after_tax))
            out[p] = r
    return out


class FinOracle:
    """FinLogic results recomputed with DuckDB over the generated
    Parquet: the latest trade per company at or above the minimum
    volume, and the financials of those traded companies."""

    def __init__(self, data_dir):
        self.dir = data_dir
        con = self.con = duckdb.connect()
        con.execute(f"""CREATE TABLE trades AS SELECT * EXCLUDE (rn) FROM (
            SELECT *, row_number() OVER (PARTITION BY cvm_id
              ORDER BY trade_date DESC, volume DESC, most_traded_stock DESC) AS rn
            FROM read_parquet('{data_dir}/trades.parquet') WHERE volume >= {MIN_VOLUME})
            WHERE rn = 1""")
        con.execute(f"""CREATE TABLE fin AS
            SELECT * FROM read_parquet('{data_dir}/financials.parquet')
            WHERE cvm_id IN (SELECT cvm_id FROM trades)""")
        self.lang = dict(con.execute(
            f"SELECT pt, en FROM read_parquet('{data_dir}/language.parquet')").fetchall())
        self.companies = {r[0]: r[1:] for r in con.execute(
            """SELECT f.cvm_id, f.name_id, f.tax_id, t.segment, t.is_restructuring,
                      t.most_traded_stock
               FROM (SELECT DISTINCT cvm_id, name_id, tax_id FROM fin) f
               JOIN trades t USING (cvm_id)""").fetchall()}
        self._slices = {}
        self._indicators = None

    def slice(self, cvm, cons):
        key = (cvm, cons)
        if key not in self._slices:
            self._slices[key] = self.con.execute(
                """SELECT acc_code, acc_name, acc_value, is_annual, strftime(period_end, '%Y-%m-%d')
                   FROM fin WHERE cvm_id = ? AND is_consolidated = ?""", [cvm, cons]).fetchall()
        return self._slices[key]

    def indicators(self):
        """{(cvm, cons): {period: values}} for every traded company."""
        if self._indicators is None:
            facts = {}
            codes = ", ".join(f"'{c}'" for c in INDICATOR_CODES)
            for cvm, cons, code, v, annual, p in self.con.execute(
                    f"""SELECT cvm_id, is_consolidated, acc_code, acc_value, is_annual,
                               strftime(period_end, '%Y-%m-%d')
                        FROM fin WHERE acc_code IN ({codes})""").fetchall():
                facts.setdefault((cvm, cons), []).append((code, v, annual, p))
            self._indicators = {k: indicator_rows(f) for k, f in facts.items()}
        return self._indicators

    # ---- module calls -------------------------------------------------
    def info(self):
        n, first, last, cos = self.con.execute(
            """SELECT count(*), strftime(min(period_end), '%Y-%m-%d'),
                      strftime(max(period_end), '%Y-%m-%d'), count(DISTINCT cvm_id) FROM fin"""
        ).fetchone()
        reports = self.con.execute(
            "SELECT count(*) FROM (SELECT DISTINCT cvm_id, is_annual, period_end FROM fin)"
        ).fetchone()[0]
        return [["data_url", f"{self.dir}/financials.parquet"], ["accounting_entries", str(n)],
                ["number_of_reports", str(reports)], ["first_report", first],
                ["last_report", last], ["number_of_companies", str(cos)]]

    def search_segment(self, pattern):
        segs = {v[2] for v in self.companies.values()}
        return [[s] for s in sorted(segs) if re.search(pattern, s)]

    def search_company(self, value, by):
        out = []
        for cvm, (name, tax, seg, restr, stock) in self.companies.items():
            hit = {"name_id": lambda: re.search(value.upper(), name) is not None,
                   "cvm_id": lambda: cvm == int(value.strip()),
                   "tax_id": lambda: tax == value,
                   "segment": lambda: re.search(value, seg) is not None}[by]()
            if hit:
                out.append([name, cvm, tax, seg, restr, stock])
        return sorted(out, key=lambda r: r[1])

    def rank(self, segment, n, rank_by, cons):
        latest = {}
        for cvm, p, c in self.con.execute(
                """SELECT cvm_id, strftime(period_end, '%Y-%m-%d'), is_consolidated
                   FROM fin GROUP BY ALL""").fetchall():
            if cvm not in latest or (p, c) > latest[cvm]:
                latest[cvm] = (p, c)
        ind = self.indicators()
        rows = []
        for cvm, (p, c) in latest.items():
            name, _, seg, restr, stock = self.companies[cvm]
            r = ind.get((cvm, c), {}).get(p)
            if r is None or c != cons or (segment is not None and not re.search(segment, seg)):
                continue
            rows.append([name, stock, cvm, restr, c, seg, p, r[rank_by]])
        rows.sort(key=lambda r: (-r[7], r[2]))
        return rows[:n]

    # ---- Company calls ------------------------------------------------
    def resolve(self, kind, ident):
        if kind == "cvm":
            return int(ident)
        return next(c for c, v in self.companies.items() if v[1] == ident)

    def open(self, cvm, cons):
        s = self.slice(cvm, cons)
        name, tax = self.companies[cvm][:2]
        periods = [r[4] for r in s]
        annual = [r[4] for r in s if r[3]]
        last = max(periods)
        last_annual = max(annual) if annual else None
        kind = "annual" if last == last_annual else "quarterly"
        return [[cvm, tax, name, min(periods), last, last_annual, kind, len(s)]]

    def report(self, cvm, cons, unit, rtype, level, years):
        s = self.slice(cvm, cons)
        last = max(r[4] for r in s)
        annual = [r[4] for r in s if r[3]]
        quarterly_latest = not annual or max(annual) != last
        rows = [r for r in s if r[3] or r[4] == last]
        if level > 0:
            rows = [r for r in rows if r[0].count(".") <= level - 1]
        rows = [(code, self.lang.get(name, "(pt) " + name),
                 v if code.startswith("3.99") else v / unit, annual_, p)
                for code, name, v, annual_, p in rows
                if code.startswith(REPORT_PREFIXES[rtype])]
        periods = sorted({r[4] for r in rows})
        if years > 0:
            periods = periods[-years:]
        rows = [r for r in rows if r[4] in periods]
        names, cells = {}, {}
        for code, name, v, annual_, p in rows:
            if code not in names or (p, name) > names[code][0]:
                names[code] = ((p, name), name)
            if (code, p) not in cells or (annual_, v) > cells[(code, p)]:
                cells[(code, p)] = (annual_, v)
        labels = [p + " ltm" if quarterly_latest and p == last else p for p in periods]
        out = [[code, names[code][1]] + [cells[(code, p)][1] if (code, p) in cells else 0.0
                                          for p in periods]
               for code in sorted(names)]
        return ["acc_code", "acc_name"] + labels, out

    def custom_report(self, cvm, cons, unit, codes, years):
        cols, rows = ["acc_code", "acc_name"], []
        for t in ("balance_sheet", "income_statement", "cash_flow"):
            c, r = self.report(cvm, cons, unit, t, 0, years)
            rows += [dict(zip(c, x)) for x in r]
            cols += [x for x in c if x not in cols]
        want = [[d.get(c, 0.0) for c in cols] for d in rows if d["acc_code"] in codes]
        return cols, sorted(want, key=lambda r: r[0])

    def company_indicators(self, cvm, cons, unit, years):
        by_p = self.indicators()[(cvm, cons)]
        periods = sorted(by_p)
        if years > 0:
            periods = periods[-years:]
        out = [[ind] + [by_p[p][ind] / unit if ind in CURRENCY else by_p[p][ind] for p in periods]
               for ind in INDICATOR_ORDER]
        return ["indicator"] + periods, out


def check_fin_op(oracle, op, company):
    """Returns None when op's round-0 output is right, else why not.
    `company` is (cvm, cons, unit) of the last open, or None."""
    label, args = op["op"], op["args"]
    cols, rows = op["result"]["cols"], op["result"]["rows"]
    if label == "info":
        got = dict(rows)
        try:
            mb = float(got.pop("memory_usage_mb"))
        except (KeyError, ValueError):
            return "memory_usage_mb missing or not a number"
        if not mb > 0:
            return f"memory_usage_mb {mb} is not positive"
        return rows_equal(sorted(got.items()), sorted(tuple(r) for r in oracle.info()))
    if label == "search_segment":
        return rows_equal(rows, oracle.search_segment(args[0]))
    if label == "search_company":
        return rows_equal(sorted(rows, key=lambda r: r[1]), oracle.search_company(args[0], args[1]))
    if label == "rank":
        n, rank_by = int(args[1]), args[2]
        if len(rows) > n:
            return f"rank returned {len(rows)} rows for n={n}"
        vals = [r[7] for r in rows]
        if any(a < b for a, b in zip(vals, vals[1:])):
            return f"rank values not descending: {vals}"
        seg = None if args[0] == "-" else args[0]
        return rows_equal(rows, oracle.rank(seg, n, rank_by, args[3] == "1"))
    if label == "open":
        cvm = oracle.resolve(args[0], args[1])
        return rows_equal(rows, oracle.open(cvm, args[2] == "1"))
    if company is None:
        return "no company open"
    cvm, cons, unit = company
    if label == "report":
        years = int(args[2])
        want_cols, want = oracle.report(cvm, cons, unit, args[0], int(args[1]), years)
        periods = [c[:10] for c in cols[2:]]
        if periods != sorted(periods) or (years > 0 and len(periods) > years):
            return f"report periods not the last {years} in order: {cols[2:]}"
        ltm = [c for c in cols[2:] if c.endswith(" ltm")]
        last_is_quarter = oracle.open(cvm, cons)[0][6] == "quarterly"
        if len(ltm) > 1 or (ltm and (not last_is_quarter or ltm[0] != cols[-1])):
            return f"misplaced ' ltm' label: {cols[2:]}"
    elif label == "custom_report":
        codes = args[0].split(",")
        if any(r[0] not in codes for r in rows):
            return "custom_report returned a code that was not requested"
        want_cols, want = oracle.custom_report(cvm, cons, unit, codes, int(args[1]))
        rows = sorted(rows, key=lambda r: r[0])
    elif label == "indicators":
        want_cols, want = oracle.company_indicators(cvm, cons, unit, int(args[0]))
    else:
        return f"unknown op {label}"
    if cols != want_cols:
        return f"columns {cols} != expected {want_cols}"
    return rows_equal(rows, want)


def check_fin(oracle, ops):
    failures, company = {}, None
    for i, op in enumerate(ops):
        if op["op"] == "open":
            a = op["args"]
            company = (oracle.resolve(a[0], a[1]), a[2] == "1", UNITS[a[3]])
        if op["error"] is None:
            try:
                why = check_fin_op(oracle, op, company)
            except Exception as e:  # a malformed result is a failed op
                why = f"check raised {type(e).__name__}: {e}"
            if why:
                failures[i] = why
    return failures


def spark_type(t):
    t = t.lower()
    if t.startswith("decimal"):
        return t.upper()
    return {"bigint": "BIGINT", "int": "INTEGER", "smallint": "SMALLINT", "double": "DOUBLE",
            "float": "FLOAT", "string": "VARCHAR", "boolean": "BOOLEAN", "date": "DATE"}.get(t, t)


def check_graph(data_dir, ops, oracles):
    """Each query's output against DuckDB running its oracle SQL over the
    same Parquet, compared as scripts/check.py does: columns sorted by
    name, rows sorted by all columns, values typed and exact. Spark's
    type names are mapped to DuckDB's and compared too."""
    con = duckdb.connect()
    for t in ("lineitem", "orders", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    failures, expected = {}, {}
    for i, op in enumerate(ops):
        if op["error"] is not None:
            continue
        res, name = op["result"], op["args"][0]
        if name not in expected:
            expected[name] = oracle_check.fetch(con, oracles[name])
        ecols, etypes, erows = expected[name]
        order = sorted(range(len(res["cols"])), key=lambda k: res["cols"][k])
        eorder = sorted(range(len(ecols)), key=lambda k: ecols[k])
        got_cols = [res["cols"][k] for k in order]
        if got_cols != [ecols[k] for k in eorder]:
            failures[i] = f"{name}: columns {got_cols} != {sorted(ecols)}"
            continue
        got_types = [spark_type(res["types"][k]) for k in order]
        if got_types != [etypes[k] for k in eorder]:
            failures[i] = f"{name}: types {got_types} != {[etypes[k] for k in eorder]}"
            continue
        conv = [Decimal if t.startswith("DECIMAL") else str if t == "DATE" else None
                for t in got_types]
        key = oracle_check.cell_key
        got = sorted(([c(r[k]) if c and r[k] is not None else r[k] for k, c in zip(order, conv)]
                      for r in res["rows"]), key=lambda r: [key(v) for v in r])
        want = sorted(([str(r[k]) if t == "DATE" and r[k] is not None else r[k]
                        for k, t in zip(eorder, got_types)] for r in erows),
                      key=lambda r: [key(v) for v in r])
        why = rows_equal(got, want)
        if why:
            failures[i] = f"{name}: {why}"
    return failures


def verify(workload, args, setup_ops, rounds, oracles):
    """(attempted, failed, wrong, messages) over the set-up's warm-up
    calls and every op of every round: an op that raised counts as
    failed; one that returned a result other than the recomputed one
    (or, after round 0, other than round 0's) counts as wrong. The
    warm-up graph queries run on their own graph; the fin warm-up calls
    are those after the set-up's last load, on the workload's data."""
    if workload == "graph_sweeps":
        warm_ops = setup_ops
        warm_bad = check_graph(args["warm"], warm_ops, oracles)
        mismatches = check_graph(args["data"], rounds[0]["ops"], oracles)
    else:
        last_load = max(i for i, op in enumerate(setup_ops) if op["op"] == "load")
        warm_ops = setup_ops[last_load + 1:]
        oracle = FinOracle(args["data"])
        warm_bad = check_fin(oracle, warm_ops)
        mismatches = check_fin(oracle, rounds[0]["ops"])
    first = rounds[0]["ops"]
    checked = [("set-up", i, op, warm_bad.get(i)) for i, op in enumerate(warm_ops)]
    for r, rnd in enumerate(rounds):
        for i, op in enumerate(rnd["ops"]):
            why = mismatches.get(i)
            if why is None and r > 0 and op.get("hash") != first[i].get("hash"):
                why = "output differs from round 0"
            checked.append((f"round {r}", i, op, why))
    attempted = failed = wrong = 0
    messages = []
    for where, i, op, why in checked:
        attempted += 1
        if op["error"]:
            failed += 1
            why = op["error"]
        elif why:
            wrong += 1
        if why:
            messages.append(f"{where} op {i} {op['op']} {op['args']}: {why}")
    return attempted, failed, wrong, messages

"""Seeded inputs for the benchmark: CVM-shaped FinLogic tables, the
customer-supplier graph tables, and the fin_session call script.

Everything here is a pure function of the seed: the same seed writes
byte-identical Parquet and the same script. The program under test only
ever sees the generated files.
"""
import datetime

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REFERENCE_ENTRIES = 755_635  # crdcj/FinLogic's served accounting entries
TRADED = 210                 # traded companies, as in the reference
BELOW_MIN_VOLUME = 8         # companies whose every trade row is < min volume
NO_TRADES = 4                # companies absent from the trades table
MIN_VOLUME = 100_000.0

INDICATOR_CODES = ["1", "1.01", "1.01.01", "1.01.02", "2.01", "2.01.04",
                   "2.02.01", "2.03", "3.01", "3.03", "3.05", "3.07", "3.08",
                   "3.11", "6.01", "6.01.01.04", "3.99.01.01"]
EPS_CODES = ["3.99", "3.99.01", "3.99.01.01", "3.99.01.02", "3.99.02",
             "3.99.02.01"]

RANK_BY = ["operating_margin", "roic", "net_margin", "return_on_equity",
           "gross_margin", "ebitda_margin", "return_on_assets", "revenues"]
REPORT_TYPES = ["balance_sheet", "assets", "cash", "current_assets",
                "non_current_assets", "liabilities", "debt",
                "current_liabilities", "non_current_liabilities",
                "liabilities_and_equity", "equity", "income_statement",
                "earnings_per_share", "cash_flow"]

SEGMENTS = ["Energia Eletrica", "Bancos", "Petroleo e Gas", "Mineracao",
            "Siderurgia", "Construcao Civil", "Varejo", "Telecomunicacoes",
            "Saneamento", "Seguros", "Alimentos Processados",
            "Transporte Rodoviario"]
NAME_WORDS = ["ALFA", "BETA", "NORTE", "SUL", "BRASIL", "ENERGIA", "MINAS",
              "PAULISTA", "GERAIS", "CENTRAL", "NACIONAL", "AMAZONIA",
              "ATLANTICO", "PETRO", "AGRO", "INVEST", "LOG", "TELE", "BANCO",
              "SEGUROS", "VALE", "RIO", "PORTO", "SERRA", "CAMPOS", "TERRA",
              "FERRO", "ACO", "PAPEL", "QUIMICA"]
NAME_SUFFIX = ["S.A.", "PARTICIPACOES S.A.", "HOLDING S.A.", "CIA"]
PT_WORDS = ["Ativo", "Passivo", "Receita", "Custo", "Despesa", "Resultado",
            "Caixa", "Aplicacoes", "Estoques", "Tributos", "Emprestimos",
            "Fornecedores", "Provisoes", "Reservas", "Capital", "Lucro",
            "Depreciacao", "Juros", "Dividendos", "Investimentos"]


def code_universe():
    """Account codes at levels 1-4 under the statement roots 1, 2, 3, 6
    and 7 (7 is a statement no report type selects). Returns
    (core codes every company files, optional deeper codes)."""
    core = set(INDICATOR_CODES) | set(EPS_CODES)
    core |= {"1", "1.01", "1.02", "2", "2.01", "2.02", "2.03", "3", "6",
             "6.01", "6.01.01", "6.02", "6.03", "7", "7.01", "1.01.01",
             "1.01.02", "2.01.04", "2.02.01"}
    core |= {f"3.{i:02d}" for i in range(1, 12)}
    optional = []
    for parent, n3, n4 in [("1.01", 8, 3), ("1.02", 6, 4), ("2.01", 6, 3),
                           ("2.02", 4, 3), ("2.03", 8, 2), ("6.01", 4, 12),
                           ("6.02", 5, 2), ("6.03", 5, 2), ("7.01", 4, 2)]:
        for i in range(1, n3 + 1):
            c3 = f"{parent}.{i:02d}"
            if c3 not in core:
                optional.append(c3)
            for j in range(1, n4 + 1):
                c4 = f"{c3}.{j:02d}"
                if c4 not in core:
                    optional.append(c4)
    return sorted(core), sorted(set(optional))


def _dates(days):
    return pa.array(np.asarray(days, dtype="int32"), type=pa.date32())


def _day(y, m, d):
    return (datetime.date(y, m, d) - datetime.date(1970, 1, 1)).days


def _strings(idx, values):
    """Plain string column taken from `values` at `idx` (C++ take)."""
    return pc.take(pa.array(values, type=pa.string()), pa.array(idx))


def fin_tables(seed, scale, out_dir, traded_companies=TRADED):
    """Write financials/trades/language Parquet for `scale` times the
    reference's served entries over `traded_companies` traded companies
    (plus the untraded ones). Every company files the core codes, so
    small scales hold those only. Returns the companies' facts the call
    script needs."""
    rng = np.random.default_rng([seed, 1])
    core, optional = code_universe()
    n_co = traded_companies + BELOW_MIN_VOLUME + NO_TRADES

    # Companies: ids, names, tax ids, size (skewed), history span.
    cvm_ids = np.sort(rng.choice(np.arange(1000, 99999), n_co, replace=False))
    names, seen = [], set()
    while len(names) < n_co:
        w = rng.choice(NAME_WORDS, 2, replace=False)
        nm = f"{w[0]} {w[1]} {NAME_SUFFIX[rng.integers(len(NAME_SUFFIX))]}"
        if nm not in seen:
            seen.add(nm)
            names.append(nm)
    tax_ids = [f"{rng.integers(100):02d}.{rng.integers(1000):03d}."
               f"{rng.integers(1000):03d}/0001-{i % 100:02d}" for i in range(n_co)]
    size = rng.lognormal(0.0, 1.0, n_co)              # skewed company size
    magnitude = np.exp(rng.normal(16.5, 2.2, n_co))   # revenues span the 1e6 cutoff
    first_year = np.where(rng.random(n_co) < 0.6, 2009,
                          rng.integers(2010, 2020, n_co))
    last_year = np.where(rng.random(n_co) < 0.9, 2022, 2021)
    # Latest period is a quarter after the last annual report for ~40%.
    tail_quarters = np.where(rng.random(n_co) < 0.4, rng.integers(1, 4, n_co), 0)
    cons_kind = rng.choice(3, n_co, p=[0.85, 0.10, 0.05])  # both / separate / consolidated

    # Periods per company.
    q_md = [(3, 31), (6, 30), (9, 30)]
    periods = []  # (company, is_annual, period_end day, period_begin day)
    for c in range(n_co):
        for y in range(first_year[c], last_year[c] + 1):
            periods.append((c, True, _day(y, 12, 31), _day(y, 1, 1)))
            for m, d in q_md:
                periods.append((c, False, _day(y, m, d), _day(y, m - 2, 1)))
        for k in range(tail_quarters[c]):
            m, d = q_md[k]
            periods.append((c, False, _day(last_year[c] + 1, m, d),
                            _day(last_year[c] + 1, m - 2, 1)))
    p_co = np.array([p[0] for p in periods])
    n_periods = np.bincount(p_co, minlength=n_co)
    n_cons = np.where(cons_kind == 0, 2, 1)

    # Optional-code count per company ~ size, rescaled so the total
    # entries land on the target.
    target = scale * REFERENCE_ENTRIES
    per_code_rows = n_periods * n_cons * 0.97
    core_rows = (per_code_rows * len(core)).sum()
    weight = size / size.sum()
    extra_rows = max(target - core_rows, 0.0)
    n_extra = np.minimum(np.round(extra_rows * weight / per_code_rows),
                         len(optional)).astype(int)

    codes_of = []
    for c in range(n_co):
        extra = rng.choice(optional, n_extra[c], replace=False) if n_extra[c] else []
        codes_of.append(np.array(sorted(core) + sorted(extra)))

    # Account names: one pt name per code; ~20% of codes were renamed,
    # so older filings carry an earlier name.
    all_codes = sorted(set(core) | set(optional))
    pt_name = {c: f"{PT_WORDS[rng.integers(len(PT_WORDS))]} {c}" for c in all_codes}
    renamed = {c for c in all_codes if rng.random() < 0.2}
    name_list = sorted(set(pt_name.values()) | {pt_name[c] + " (antigo)" for c in renamed})
    name_index = {n: i for i, n in enumerate(name_list)}

    code_list = all_codes
    code_index = {c: i for i, c in enumerate(code_list)}
    code_idx_of = [np.array([code_index[x] for x in codes]) for codes in codes_of]
    code_factor = rng.lognormal(-1.0, 1.0, len(code_list))
    negative = np.array([c.startswith(("3.02", "3.04", "3.08", "6.02", "6.03"))
                         for c in code_list])

    # Rows: company x consolidation x period x code, each code filed
    # with probability 0.97 (missing indicator codes zero-fill later).
    cols = {k: [] for k in ("co", "cons", "annual", "end", "begin", "code")}
    for c, annual, end, begin in periods:
        cons_vals = {0: (True, False), 1: (False,), 2: (True,)}[cons_kind[c]]
        codes = code_idx_of[c]
        for cons in cons_vals:
            keep = rng.random(len(codes)) < 0.97
            k = int(keep.sum())
            cols["co"].append(np.full(k, c))
            cols["cons"].append(np.full(k, cons))
            cols["annual"].append(np.full(k, annual))
            cols["end"].append(np.full(k, end))
            cols["begin"].append(np.full(k, begin))
            cols["code"].append(codes[keep])
    co = np.concatenate(cols["co"])
    cons = np.concatenate(cols["cons"])
    annual = np.concatenate(cols["annual"])
    end = np.concatenate(cols["end"])
    begin = np.concatenate(cols["begin"])
    code = np.concatenate(cols["code"])
    n = len(co)

    value = magnitude[co] * code_factor[code] * rng.lognormal(0.0, 0.3, n)
    value = np.where(negative[code], -value, value)
    flip = rng.random(n) < 0.05  # losses, negative equity, write-downs
    value = np.round(np.where(flip, -value, value))
    eps_row = np.array([code_list[i].startswith("3.99") for i in range(len(code_list))])[code]
    value = np.where(eps_row, np.round(rng.normal(0.4, 1.2, n), 4), value)

    # Duplicate filings: ~1.5% of rows re-filed with a restated value.
    dup = np.flatnonzero(rng.random(n) < 0.015)
    restated = np.where(eps_row[dup], np.round(value[dup] + 0.01, 4),
                        np.round(value[dup] * rng.uniform(1.001, 1.2, len(dup))))
    idx = np.concatenate([np.arange(n), dup])
    value = np.concatenate([value, restated])
    co, cons, annual, end, begin, code = (a[idx] for a in (co, cons, annual, end, begin, code))
    # Shuffle physical order so no file order encodes the answers.
    perm = rng.permutation(len(co))
    co, cons, annual, end, begin, code, value = (
        a[perm] for a in (co, cons, annual, end, begin, code, value))

    cutover = _day(2015, 1, 1)
    acc_name_idx = np.array([name_index[pt_name[c]] for c in code_list])[code]
    old_name_idx = np.array([name_index.get(pt_name[c] + " (antigo)", name_index[pt_name[c]])
                             for c in code_list])[code]
    acc_name_idx = np.where(end < cutover, old_name_idx, acc_name_idx)

    financials = pa.table({
        "cvm_id": pa.array(cvm_ids[co], type=pa.int64()),
        "name_id": _strings(co, names),
        "tax_id": _strings(co, tax_ids),
        "acc_code": _strings(code, code_list),
        "acc_name": _strings(acc_name_idx, name_list),
        "acc_value": pa.array(value, type=pa.float64()),
        "is_annual": pa.array(annual, type=pa.bool_()),
        "is_consolidated": pa.array(cons, type=pa.bool_()),
        "period_begin": _dates(begin),
        "period_end": _dates(end),
    })
    pq.write_table(financials, f"{out_dir}/financials.parquet", row_group_size=1 << 18)

    # Trades: several rows for some companies; for some of those the
    # latest row is below the minimum volume, so an older row wins.
    order = rng.permutation(n_co)
    traded = order[:traded_companies]
    below = order[traded_companies:traded_companies + BELOW_MIN_VOLUME]
    t_rows = []
    for c in list(traded) + list(below):
        k = int(rng.choice([1, 2, 3, 4], p=[0.5, 0.25, 0.15, 0.1]))
        days = np.sort(rng.choice(np.arange(_day(2022, 1, 3), _day(2023, 6, 30)), k,
                                  replace=False))
        vols = np.round(rng.lognormal(15.0, 1.5, k) + MIN_VOLUME, 2)
        if c in below:
            vols = np.round(rng.uniform(1000.0, MIN_VOLUME - 1.0, k), 2)
        elif k > 1 and rng.random() < 0.3:
            vols[-1] = np.round(rng.uniform(1000.0, MIN_VOLUME - 1.0), 2)
        seg = rng.integers(len(SEGMENTS))
        for i in range(k):
            if rng.random() < 0.15:
                seg = rng.integers(len(SEGMENTS))
            ticker = "".join(rng.choice(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"), 4)) + \
                str(rng.choice([3, 4, 11]))
            t_rows.append((int(cvm_ids[c]), int(days[i]), float(vols[i]),
                           SEGMENTS[seg], bool(rng.random() < 0.1), ticker))
    trades = pa.table({
        "cvm_id": pa.array([r[0] for r in t_rows], type=pa.int64()),
        "trade_date": _dates([r[1] for r in t_rows]),
        "volume": pa.array([r[2] for r in t_rows], type=pa.float64()),
        "segment": pa.array([r[3] for r in t_rows]),
        "is_restructuring": pa.array([r[4] for r in t_rows]),
        "most_traded_stock": pa.array([r[5] for r in t_rows]),
    })
    pq.write_table(trades, f"{out_dir}/trades.parquet")

    # Language table covers ~60% of the account names.
    covered = [nm for nm in name_list if rng.random() < 0.6]
    language = pa.table({
        "pt": pa.array(covered),
        "en": pa.array([f"EN {nm.upper()}" for nm in covered]),
    })
    pq.write_table(language, f"{out_dir}/language.parquet")

    return {
        "cvm_ids": cvm_ids, "tax_ids": tax_ids, "names": names, "size": size,
        "traded": np.sort(traded), "cons_kind": cons_kind, "codes_of": codes_of,
        "entries": int(len(co)),
    }


def graph_tables(seed, sf, out_dir, zipf_customers=False):
    """Orders, lineitem and supplier with the sf-scaled sizes of the
    repository's TPC-H-like test data: orders over uniform customers
    (about 10 per customer, as in the test data) and 1 + Poisson(3)
    lines per order over uniform suppliers. With `zipf_customers`,
    orders per customer follow a Zipf law (exponent 1) over a seeded
    customer order instead, so a tail of customers has degree below 3
    and the k-core peel removes nodes; on the uniform shape every node
    survives any small k, so that shape cannot tell k = 3 from k = 2."""
    rng = np.random.default_rng([seed, 2])
    n_orders, n_cust, n_supp = int(1_500_000 * sf), int(150_000 * sf), int(10_000 * sf)
    if zipf_customers:
        zipf = 1.0 / np.arange(1, n_cust + 1)
        custkey = rng.permutation(n_cust)[rng.choice(n_cust, n_orders, p=zipf / zipf.sum())]
    else:
        custkey = rng.integers(0, n_cust, n_orders)
    lines = 1 + rng.poisson(3.0, n_orders)
    l_orderkey = np.repeat(np.arange(n_orders), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = np.arange(len(l_orderkey)) - starts + 1
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), type=pa.int64()),
        "o_custkey": pa.array(custkey, type=pa.int64()),
    }), f"{out_dir}/orders.parquet")
    pq.write_table(pa.table({
        "l_orderkey": pa.array(l_orderkey, type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, len(l_orderkey)), type=pa.int64()),
        "l_linenumber": pa.array(l_linenumber, type=pa.int32()),
    }), f"{out_dir}/lineitem.parquet")
    pq.write_table(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
    }), f"{out_dir}/supplier.parquet")


# (report type, accLevel, numYears) cycled through the sessions: every
# round does the same kinds of work whatever the seed, so the seed moves
# only the companies, units and codes.
REPORT_PLAN = [("balance_sheet", 0, 0), ("income_statement", 3, 5), ("earnings_per_share", 4, 0)]


# Sessions open companies with popularity ~ 1/rank^POPULARITY_EXPONENT
# over company size. An assumed skew: no log of real sessions backs it.
# 0 draws companies uniformly (README, "Sensitivity").
POPULARITY_EXPONENT = 0.8


def session_script(seed, facts, sessions, catalogue, stream=3):
    """A FinLogic call list: one info call, `catalogue` = how many
    search_segment, search_company and rank calls, then `sessions`
    analyst sessions (open, report, custom_report, indicators) on
    seeded, size-skewed companies. One op per line, tab-separated;
    `open` makes the company current for the calls that follow it.
    `stream` keeps warm-up and timed scripts apart."""
    rng = np.random.default_rng([seed, stream])
    n_seg, n_search, n_rank = catalogue
    ops = [["info"]]
    for pat in rng.choice(["Energia", "Ban", "Petro|Gas", "^S", "o$"], n_seg, replace=False):
        ops.append(["search_segment", str(pat)])
    traded = facts["traded"]
    for i in range(n_search):
        c = traded[rng.integers(len(traded))]
        ops.append([["search_company", str(rng.choice(NAME_WORDS)).lower(), "name_id"],
                    ["search_company", str(facts["cvm_ids"][c]), "cvm_id"],
                    ["search_company", facts["tax_ids"][c], "tax_id"],
                    ["search_company", str(rng.choice(SEGMENTS)).split()[0], "segment"]][i % 4])
    for i in range(n_rank):
        seg = "-" if i % 2 == 0 else str(rng.choice(SEGMENTS)).split()[0]
        ops.append(["rank", seg, str([5, 10, 20][i % 3]), str(rng.choice(RANK_BY)),
                    "0" if i % 4 == 3 else "1"])
    by_size = traded[np.argsort(-facts["size"][traded])]
    pop = 1.0 / np.arange(1, len(by_size) + 1) ** POPULARITY_EXPONENT
    for s in range(sessions):
        c = int(rng.choice(by_size, p=pop / pop.sum()))
        cons = {0: s % 2 == 0, 1: False, 2: True}[facts["cons_kind"][c]]
        by_tax = s % 3 == 2
        ops.append(["open", "tax" if by_tax else "cvm",
                    facts["tax_ids"][c] if by_tax else str(facts["cvm_ids"][c]),
                    "1" if cons else "0", "tmb"[s % 3]])
        rtype, level, years = REPORT_PLAN[s % len(REPORT_PLAN)]
        ops.append(["report", rtype, str(level), str(years)])
        acc = list(rng.choice(facts["codes_of"][c], 6, replace=False))
        ops.append(["custom_report", ",".join(sorted(acc + ["9.99"])), str([0, 3, 5][s % 3])])
        ops.append(["indicators", str([0, 4, 8][s % 3])])
    return ops

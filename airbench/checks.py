"""Output checks for a benchmark run, computed with DuckDB outside the
timed region: each query op against its own oracle SQL, the ETL report
against the generated inputs, the EDA sections that have a SQL spelling
against the sinked parquet, and the Excel files against the sink counts."""
import glob
import json
import os
import re
import warnings
import zipfile

warnings.filterwarnings("ignore", category=FutureWarning)
import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402


_OUTPUTS = {}


def _read_output(work, name):
    if work not in _OUTPUTS:
        with open(os.path.join(work, "outputs.json")) as fh:
            _OUTPUTS[work] = json.load(fh)
    if name not in _OUTPUTS[work]:
        raise KeyError(f"no output recorded for {name}")
    o = _OUTPUTS[work][name]
    return pd.DataFrame(o["rows"], columns=o["columns"])


def compare(got, want):
    """None when the frames agree (columns by name, rows in order, floats
    within 1e-6 relative or 2e-4 absolute, which covers the engine's
    4-digit rounding), else the first difference."""
    a = got.reindex(sorted(got.columns), axis=1).reset_index(drop=True)
    b = want.reindex(sorted(want.columns), axis=1).reset_index(drop=True)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if a.shape != b.shape:
        return f"shape {a.shape} vs {b.shape}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind in "fiub" and bv.dtype.kind in "fiub" and (av.dtype.kind == "f" or bv.dtype.kind == "f"):
            af, bf = av.astype(float), bv.astype(float)
            ok = np.isclose(af, bf, rtol=1e-6, atol=2e-4) | (np.isnan(af) & np.isnan(bf))
            if not ok.all():
                i = int(np.argmin(ok))
                return f"column {c} row {i}: {af[i]!r} vs {bf[i]!r}"
        else:
            bad = [i for i, (x, y) in enumerate(zip(av, bv)) if _canon(x) != _canon(y)]
            if bad:
                i = bad[0]
                return f"column {c} row {i}: {av[i]!r} vs {bv[i]!r}"
    return None


def _canon(v):
    if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)):
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, float):
        return round(v, 9)
    return v


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _view(con, name, path):
    src = f"{path}/*.parquet" if os.path.isdir(path) else path
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{src}')")


def query_checks(work, oracles, outputs):
    """[(name, error or None)] for every query output."""
    con = _con()
    for p in glob.glob(os.path.join(work, "tables", "*.parquet")):
        _view(con, os.path.basename(p)[:-8], p)
    res = []
    for name in outputs:
        sql = oracles.get(name)
        if sql is None:
            res.append((name, "no oracle SQL"))
            continue
        try:
            res.append((name, compare(_read_output(work, name), con.sql(sql).df())))
        except Exception as e:  # a failed check is reported, not raised
            res.append((name, f"{type(e).__name__}: {e}"))
    return res


def _topk(col, k):
    return (f"SELECT {col}, cnt, floor(cnt * 100.0 / total * 10000 + 0.5) / 10000 AS share_pct "
            f"FROM (SELECT {col}, count(*) AS cnt FROM L GROUP BY {col}), "
            f"(SELECT count(*) AS total FROM L) ORDER BY cnt DESC, {col} ASC LIMIT {k}")


def _r4(e):
    return f"floor(({e}) * 10000 + 0.5) / 10000"


EDA_SQL = {
    "eda.listings.property_top10": _topk("property_type", 10),
    "eda.listings.room_types": _topk("room_type", 100),
    "eda.listings.barrios_top15": _topk("neighbourhood_cleansed", 15),
    "eda.listings.price_stats":
        "SELECT count(price_clean) AS cnt, " + _r4("avg(price_clean)") + " AS mean, "
        + _r4("stddev_samp(price_clean)") + " AS std, min(price_clean) AS min, "
        + _r4("quantile_cont(price_clean, 0.25)") + " AS p25, "
        + _r4("quantile_cont(price_clean, 0.5)") + " AS p50, "
        + _r4("quantile_cont(price_clean, 0.75)") + " AS p75, max(price_clean) AS max FROM L",
    "eda.listings.price_pcts": "SELECT " + ", ".join(
        _r4(f"quantile_cont(price_clean, {p})") + f" AS p{round(p * 100)}"
        for p in (0.25, 0.5, 0.75, 0.9, 0.95, 0.99)) + " FROM L",
    "eda.listings.price_by_room":
        "SELECT room_type, avg(price_clean) AS mean, quantile_cont(price_clean, 0.5) AS median, "
        "count(*) AS count FROM L WHERE price_clean > 0 GROUP BY room_type ORDER BY room_type",
    "eda.reviews.monthly_trend":
        "SELECT strftime(try_cast(date_clean AS DATE), '%Y-%m') AS mes, count(*) AS cnt "
        "FROM R GROUP BY 1 ORDER BY 1 NULLS FIRST",
    "eda.reviews.sentiment":
        "SELECT avg(sentiment_score) AS mean_sent, "
        "sum(CASE WHEN sentiment_score > 0 THEN 1 ELSE 0 END) AS n_pos, "
        "sum(CASE WHEN sentiment_score < 0 THEN 1 ELSE 0 END) AS n_neg, "
        "sum(CASE WHEN sentiment_score = 0 THEN 1 ELSE 0 END) AS n_neu FROM R",
}

SURVIVOR_KEYS = {"listings": ("id", "latitude", "longitude"), "reviews": ("id", "listing_id")}


def etl_checks(work, xlsx_max_rows=100000):
    """[(name, error or None)] for the ETL report, the Excel files and
    the EDA sections with a SQL spelling."""
    con = _con()
    res = []
    for t, keys in SURVIVOR_KEYS.items():
        _view(con, f"in_{t}", os.path.join(work, "in", f"{t}.parquet"))
        _view(con, f"out_{t}", os.path.join(work, "out", f"raw_{t}_transformado"))
    con.execute("CREATE OR REPLACE VIEW L AS SELECT * FROM out_listings")
    con.execute("CREATE OR REPLACE VIEW R AS SELECT * FROM out_reviews")
    report = _read_output(work, "pipeline.report").set_index("table")
    for t, keys in SURVIVOR_KEYS.items():
        generated = con.sql(f"SELECT count(*) FROM in_{t}").fetchone()[0]
        survivors = con.sql(f"SELECT count(DISTINCT id) FROM in_{t} WHERE "
                            + " AND ".join(f"{k} IS NOT NULL" for k in keys)).fetchone()[0]
        sunk = con.sql(f"SELECT count(*) FROM out_{t}").fetchone()[0]
        want = (generated, survivors, survivors)
        got = tuple(int(report.loc[t, c]) for c in ("extracted", "loaded", "verified")) \
            if t in report.index else None
        err = None
        if got != want or sunk != survivors:
            err = f"report (extracted, loaded, verified) {got}, want {want}; sink rows {sunk}"
        res.append((f"pipeline.report.{t}", err))
        xl = glob.glob(os.path.join(work, "out", f"{t}_transformado_*.xlsx"))
        err = None
        if len(xl) != 1:
            err = f"expected one xlsx file, found {len(xl)}"
        else:
            with zipfile.ZipFile(xl[0]) as z:
                sheet = z.read("xl/worksheets/sheet1.xml").decode("utf-8")
                resumen = z.read("xl/worksheets/sheet2.xml").decode("utf-8")
            rows = len(re.findall(r"<row ", sheet))
            if rows != min(survivors, xlsx_max_rows) + 1:
                err = f"sheet Datos has {rows} rows, want {min(survivors, xlsx_max_rows) + 1}"
            elif f"<v>{survivors}</v>" not in resumen:
                err = f"sheet Resumen does not report {survivors} records"
        res.append((f"xlsx.{t}", err))
    for name, sql in EDA_SQL.items():
        try:
            res.append((name, compare(_read_output(work, name), con.sql(sql).df())))
        except Exception as e:
            res.append((name, f"{type(e).__name__}: {e}"))
    return res

"""Output oracles, independent of the store's storage and operator layers.

(a) ``ComputeOracle``: a ``read``/``write`` result must equal the
    feature handler's own ``compute`` for that revision's source at
    that ``slice_ts``, clipped by the half-open overlap predicate
    ``valid_from <= end AND (valid_until > start OR valid_until IS
    NULL)``. Recursive features are fed by a compute-only stand-in for
    the store, so no SCD2 table, log or memo is involved.
(b) ``report_oracle``: a per-day DuckDB formulation of a stratified
    report. Each observable row valid on day d, with each
    stratification feature of the same key valid on d left-joined,
    grouped by the stratification expressions and counted.
(c) ``marginal_mismatch``: a stratified report summed over its strata
    equals the unstratified per-day count of the observable.

All comparisons are multiset, NULL-safe and order-insensitive; dates
are compared as ISO dates. ``self_test`` proves each oracle on tiny
hand-computed cases.
"""

from __future__ import annotations

import datetime
from collections import Counter

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

NULL = "\x00NULL"
VALIDITY = ("key_pnr", "valid_from", "valid_until")


# ------------------------------------------------------------ comparing
def _norm_col(s: pd.Series) -> list:
    if pd.api.types.is_datetime64_dtype(s):
        # ISO day, as strftime("%Y-%m-%d") gives it, without its per-row cost
        s = pd.Series(s.to_numpy().astype("datetime64[D]").astype(str), index=s.index).where(s.notna())
    elif pd.api.types.is_datetime64_any_dtype(s):
        s = s.dt.strftime("%Y-%m-%d")
    elif s.dtype == object:
        first = next((v for v in s if v is not None and v == v), None)
        if isinstance(first, (datetime.date, pd.Timestamp)):
            s = pd.to_datetime(s).dt.strftime("%Y-%m-%d")
    elif pd.api.types.is_float_dtype(s):
        vals = s.to_numpy()
        finite = vals[~np.isnan(vals)]
        if np.all(finite == np.round(finite)):
            s = s.astype("Int64")
        else:
            s = s.round(9)
    out = s.astype(object).where(s.notna(), NULL).tolist()
    return [v.item() if isinstance(v, np.generic) else v for v in out]


def multiset(pdf: pd.DataFrame, columns: list[str] | None = None) -> Counter:
    """Rows of ``pdf`` as a multiset of normalized tuples; columns in
    sorted-name order unless given."""
    cols = columns if columns is not None else sorted(pdf.columns)
    if len(pdf) == 0:
        return Counter()
    return Counter(zip(*(_norm_col(pdf[c]) for c in cols)))


def diff(got: Counter, want: Counter) -> str | None:
    """None when equal, else a one-line description of the first diff."""
    if got == want:
        return None
    extra, missing = got - want, want - got
    if not extra and not missing:
        return None
    first_extra = min(extra, key=repr) if extra else None
    first_missing = min(missing, key=repr) if missing else None
    return (
        f"{sum(extra.values())} unexpected row(s), first {first_extra!r}; "
        f"{sum(missing.values())} missing row(s), first {first_missing!r}"
    )


def clip(pdf: pd.DataFrame, start: datetime.date, end: datetime.date):
    """Half-open overlap with ``[start, end]``, done in pandas."""
    vf = pd.to_datetime(pdf["valid_from"])
    vu = pd.to_datetime(pdf["valid_until"])
    keep = (vf <= pd.Timestamp(end)) & (vu.isna() | (vu > pd.Timestamp(start)))
    return pdf[keep.to_numpy()]


# ------------------------------------------------------------ oracle (a)
class _ComputeOnly:
    """Stands in for the store when a handler's ``compute`` asks for
    another feature: computes it directly, clipped, with no storage."""

    def __init__(self, spark, store_cls, source_conn):
        self.spark = spark
        self.source_conn = source_conn
        self._cls = store_cls

    def compute(self, feature, start_date, end_date, slice_ts):
        handler = getattr(self._cls, self._cls._ds_map[feature])
        out = handler.compute(
            start_date=start_date,
            end_date=end_date,
            slice_ts=slice_ts,
            source_conn=self.source_conn,
            ds=self,
        )
        return out.where(
            (F.col("valid_from") <= F.lit(end_date))
            & (
                F.col("valid_until").isNull()
                | (F.col("valid_until") > F.lit(start_date))
            )
        )

    get_feature = compute


class ComputeOracle:
    def __init__(self, spark, store_cls, start_date: datetime.date):
        self.spark = spark
        self.store_cls = store_cls
        self.start_date = start_date
        self._frames: dict = {}

    def full(self, feature: str, rev, slice_ts) -> pd.DataFrame:
        """``compute`` over the revision's whole span, as pandas."""
        key = (feature, rev.index)
        if key not in self._frames:
            ds = _ComputeOnly(self.spark, self.store_cls, rev.path)
            self._frames[key] = ds.compute(
                feature, self.start_date, rev.as_of, slice_ts
            ).toPandas()
        return self._frames[key]

    def expected(self, feature, rev, slice_ts, start, end) -> Counter:
        return multiset(clip(self.full(feature, rev, slice_ts), start, end))


# ------------------------------------------------------------ oracle (b)
def _as_dates(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    for c in ("valid_from", "valid_until"):
        out[c] = pd.to_datetime(out[c])
    return out


def report_oracle(
    observable: pd.DataFrame,
    strat_features: dict[str, pd.DataFrame],
    strata: dict[str, str],
    start: datetime.date,
    end: datetime.date,
) -> pd.DataFrame:
    """Per-day counts: columns (date, *strata, n)."""
    con = duckdb.connect()
    try:
        con.register("obs", _as_dates(observable[list(VALIDITY)]))
        joins, payload = [], []
        for i, (feat, pdf) in enumerate(strat_features.items()):
            con.register(f"f{i}", _as_dates(pdf))
            cols = [c for c in pdf.columns if c not in VALIDITY]
            payload += [f"f{i}.{c} AS {c}" for c in cols]
            joins.append(
                f"LEFT JOIN f{i} ON f{i}.key_pnr = o.key_pnr "
                f"AND CAST(f{i}.valid_from AS DATE) <= days.d "
                f"AND (f{i}.valid_until IS NULL "
                f"OR CAST(f{i}.valid_until AS DATE) > days.d)"
            )
        sel = ", ".join(["days.d", *payload])
        groups = "".join(f", {expr} AS {name}" for name, expr in strata.items())
        sql = f"""
        WITH days AS (
            SELECT CAST(g AS DATE) AS d
            FROM generate_series(DATE '{start}', DATE '{end}', INTERVAL 1 DAY) t(g)
        ), per_day AS (
            SELECT {sel}
            FROM days
            JOIN obs o ON CAST(o.valid_from AS DATE) <= days.d
                AND (o.valid_until IS NULL OR CAST(o.valid_until AS DATE) > days.d)
            {' '.join(joins)}
        )
        SELECT d AS date{groups}, count(*) AS n FROM per_day GROUP BY ALL
        """
        return con.execute(sql).df()
    finally:
        con.close()


def nonzero(report: pd.DataFrame, count_col: str) -> pd.DataFrame:
    """Engine report without its zero-count spine rows, count as ``n``."""
    out = report.rename(columns={count_col: "n"})
    return out[out["n"].round(9) != 0]


# ------------------------------------------------------------ oracle (c)
def marginal_mismatch(
    stratified: pd.DataFrame, strata: list[str], unstratified: pd.DataFrame
) -> str | None:
    """Sum ``stratified`` (date, *strata, n) over its strata and compare
    with ``unstratified`` (date, n); zero days are ignored."""
    summed = stratified.drop(columns=strata).copy()
    summed["date"] = pd.to_datetime(summed["date"])
    summed = summed.groupby("date", as_index=False)["n"].sum()
    base = unstratified.copy()
    base["date"] = pd.to_datetime(base["date"])
    return diff(
        multiset(summed[summed["n"].round(9) != 0], ["date", "n"]),
        multiset(base[base["n"] != 0], ["date", "n"]),
    )


# ------------------------------------------------------------ self test
def self_test() -> list[str]:
    """Prove each oracle on tiny hand-computed cases; list the failures."""
    d = datetime.date
    fails = []

    def check(name, ok):
        if not ok:
            fails.append(name)

    # comparison: order, NULLs, date encodings, float-vs-int counts
    a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", None, "y"],
                      "vf": [d(2020, 1, 1), d(2020, 1, 2), None]})
    b = pd.DataFrame({"k": [3.0, 1.0, 2.0], "v": ["y", "x", np.nan],
                      "vf": pd.to_datetime([None, "2020-01-01", "2020-01-02"])})
    check("compare/equal", diff(multiset(a), multiset(b)) is None)
    b.loc[0, "v"] = "z"
    check("compare/value", diff(multiset(a), multiset(b)) is not None)
    check("compare/multiplicity",
          diff(multiset(pd.concat([a, a])), multiset(a)) is not None)

    # (a) half-open overlap clip
    rows = pd.DataFrame({
        "key_pnr": [1, 2, 3, 4],
        "valid_from": [d(2020, 1, 1), d(2020, 1, 5), d(2020, 1, 10), d(2019, 1, 1)],
        "valid_until": [d(2020, 1, 5), None, d(2020, 1, 11), d(2020, 1, 5)],
    })
    kept = sorted(clip(rows, d(2020, 1, 5), d(2020, 1, 9))["key_pnr"])
    check("a/clip", kept == [2])
    kept = sorted(clip(rows, d(2020, 1, 4), d(2020, 1, 10))["key_pnr"])
    check("a/clip-bounds", kept == [1, 2, 3, 4])

    # (b) per-day report: key 3 has no sex row -> NULL stratum
    obs = pd.DataFrame({
        "key_pnr": [1, 2, 3],
        "valid_from": [d(2020, 1, 1), d(2020, 1, 2), d(2020, 1, 3)],
        "valid_until": [d(2020, 1, 3), None, d(2020, 1, 4)],
    })
    sex = pd.DataFrame({
        "key_pnr": [1, 2], "sex": ["M", "F"],
        "valid_from": [d(2000, 1, 1), d(2000, 1, 1)], "valid_until": [None, None],
    })
    got = report_oracle(obs, {"sex": sex}, {"sex": "sex"}, d(2020, 1, 1), d(2020, 1, 3))
    want = pd.DataFrame({
        "date": [d(2020, 1, 1), d(2020, 1, 2), d(2020, 1, 2), d(2020, 1, 3), d(2020, 1, 3)],
        "sex": ["M", "M", "F", "F", None],
        "n": [1, 1, 1, 1, 1],
    })
    check("b/report", diff(multiset(got), multiset(want)) is None)
    total = report_oracle(obs, {}, {}, d(2020, 1, 1), d(2020, 1, 3))
    check("b/unstratified", diff(
        multiset(total),
        multiset(pd.DataFrame({"date": [d(2020, 1, 1), d(2020, 1, 2), d(2020, 1, 3)],
                               "n": [1, 2, 2]})),
    ) is None)
    engine = pd.concat([want.rename(columns={"n": "n_x"}), pd.DataFrame(
        {"date": [d(2020, 1, 1)], "sex": ["F"], "n_x": [0.0]})])
    check("b/zero-spine", diff(multiset(nonzero(engine, "n_x")), multiset(want)) is None)

    # (c) marginal: the hand report sums to the totals; a phantom stratum does not
    check("c/marginal", marginal_mismatch(want, ["sex"], total) is None)
    phantom = pd.concat([want, pd.DataFrame(
        {"date": [d(2020, 1, 3)], "sex": [None], "n": [5]})])
    check("c/phantom", marginal_mismatch(phantom, ["sex"], total) is not None)
    return fails

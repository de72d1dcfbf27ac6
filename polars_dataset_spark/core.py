"""Core data model: the annotated flat table, Spark-first.

Reference semantics (``/root/reference/polars_dataset.py``):

- ``Dataset`` (reference ``polars_dataset.py:11``) is a single flat table
  plus two pieces of metadata partitioning columns into three roles:
  ``index`` (exactly one coordinate column; must survive every
  transformation — reference ``:109-112``), ``id_vars`` (zero or more trace
  identifiers; silently pruned when dropped — reference ``:113-114``) and
  derived ``value_vars`` (everything else — reference ``:163-169``).
- Every attribute not defined here delegates to the underlying DataFrame
  (reference ``__getattr__`` ``:74-78`` / ``_wrap_method`` ``:61-72``):
  DataFrame-returning calls are re-wrapped and re-validated; anything else
  passes through raw.

Divergence by design: the reference is eager (each call fully materializes);
here the underlying object is a lazy :class:`pyspark.sql.DataFrame`, so the
"plan" accumulates in Catalyst and executes distributed at action time.
Invariant checks use only the analyzed schema (``df.columns``) so failures
still surface at call time — no Spark job is triggered by metadata checks.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable, Mapping, Sequence
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["Dataset", "exact_sum"]

# most carry rows rolling_quantiles pulls to the driver: it uses at most
# this // (window_size - 1) chunks
_ROLLING_CARRY_ROWS = 100_000

# exact_sum splits each row's micro-units n (|n| < 2**50) into n >> 25 and
# n & (2**25 - 1): both parts lie in [-2**25, 2**25)
_SPLIT = 25


def exact_sum(expr: str) -> Column:
    """Order-independent exact sum of a double SQL expression (a column
    name is one): the same ``DECIMAL(38,6)`` value as
    ``F.sum(F.expr(expr).cast("decimal(28,6)"))``, accumulated in 64-bit
    integers.

    A plain double sum depends on partition and merge order, so the same
    query can hash differently between a multi-worker run and a
    single-threaded oracle. Summing each row at 6 decimal places is exact
    and order-free. The decimal form does it in a ``DECIMAL(38,6)`` buffer,
    which Spark keeps as a ``BigDecimal`` per row updated; this form keeps
    two ``long`` sums. It is one SQL expression because the same tree built
    from ``Column`` operators costs about 25 ms of driver time per call.

    Per row, with ``x`` the expression's value as a double,
    ``v = x * 1e6`` and ``n = rint(v)``:

    - null, NaN and ±inf rows count as null (the decimal cast's result);
    - a row with ``0.5 - |v - n| > |v| * 2**-51`` contributes ``n``. Both
      ``v`` and the decimal cast's input times 1e6,
      ``Double.toString(x) * 1e6``, lie within ``|v| * 2**-53`` of the
      exact ``x * 1e6``, so the cast's HALF_UP rounding is ``n`` too.
      This accepts every value with at most 6 decimal places and
      ``|x| < 7e8``, and off-grid values such as 1/3;
    - any other row raises: a tie at the 7th decimal (``5e-7``), or
      ``|v| >= 2**50`` (``1e13``), which the same test rejects.

    Overflow: ``|n| < 2**50``, so ``n >> 25`` and ``n & (2**25 - 1)`` both
    lie in ``[-2**25, 2**25)`` and neither ``long`` sum can overflow below
    ``2**38`` rows per group. Past that, ``try_sum`` returns null and the
    group raises, whatever ``spark.sql.ansi.enabled`` says. The two sums
    are combined into the decimal once per group."""
    x = f"CAST(({expr}) AS DOUBLE)"
    v = f"({x} * 1e6D)"
    # NaN sorts above +inf in Spark, so this test is false or null exactly
    # on null, NaN and ±inf rows; it must come first, or NaN passes the tie
    # test
    finite = f"abs({x}) < double('Infinity')"
    units = (
        f"CASE WHEN {finite} THEN"
        f" CASE WHEN 0.5D - abs({v} - rint({v})) > abs({v}) * {2.0**-51!r}D"
        f" THEN CAST(rint({v}) AS BIGINT)"
        f" ELSE raise_error(format_string('exact_sum: %s is too near a tie at the"
        f" 7th decimal, or too large, to sum exactly', {x})) END END"
    )
    # the coalesce's first argument is null when either try_sum overflowed
    return F.expr(
        f"CAST(CASE WHEN count_if({finite}) > 0 THEN coalesce("
        f"(CAST(try_sum(shiftright({units}, {_SPLIT})) AS DECIMAL(38,0)) * {1 << _SPLIT}"
        f" + try_sum(({units}) & {(1 << _SPLIT) - 1})) * 0.000001BD,"
        f" raise_error('exact_sum: long sum overflow')) END AS DECIMAL(38,6))"
    )


def _as_list(x) -> list:
    if x is None:
        return []
    if isinstance(x, str):
        return [x]
    return list(x)


def _qname(name: str) -> str:
    """``name`` quoted, so a flattened struct field (``"s.a"``) resolves as
    one name, not as field ``a`` of ``s``: the one resolver of every column
    name a ``Dataset`` method touches, directly or through :func:`_qcol`."""
    return "`" + name.replace("`", "``") + "`"


def _qcol(name) -> Column:
    """The column named ``name``; a ``Column`` passes through."""
    return F.col(_qname(name)) if isinstance(name, str) else name


# applyInPandas grouping, mapInPandas input and DataFrame.summary resolve
# names unquoted inside themselves, parsing "." as struct access: frames
# handed to them carry _undot names, restored with _redot
def _undot(name: str) -> str:
    return name.replace(".", "__dot__")


def _redot(name: str) -> str:
    return name.replace("__dot__", ".")


def _positions(df: DataFrame, order_cols: list) -> DataFrame:
    """``df`` plus ``__cum`` (and ``__one``, ``__pid``), each row's 1-based
    position in ``order_cols`` order: the eager ``_global_prefix_sum``."""
    from polars_dataset_spark.functions.packing import _global_prefix_sum

    parts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    return _global_prefix_sum(df.withColumn("__one", F.lit(1)), "__one", order_cols, parts)


def _rolling_key_rows(keys: list, pdf) -> "list[tuple]":
    """Canonical trace-key tuple per row: a type-tagged repr string per
    key value — injective for the supported key types, stable across the
    tails collect (array<string> transport) and the main pass, and
    null/NaN-safe (None and NaN each map to one image, so null-keyed and
    NaN-keyed traces group together, matching the window form's
    partitioning)."""
    if not keys:
        return [()] * len(pdf)
    cols = [pdf[k].tolist() for k in keys]

    def img(v):
        if v is None:
            return "\x00null"
        if isinstance(v, float) and v != v:
            return "\x00nan"
        return f"{type(v).__name__}\x01{v!r}"

    return [tuple(img(v) for v in row) for row in zip(*cols)]


def _rolling_tails(keys: list, col: str, w1: int, batches):
    """Last ``w1`` (key, value) rows of this chunk, in chunk order — the
    overlap carry source of :meth:`Dataset.rolling_quantiles`."""
    import pandas as pd
    from pyspark import TaskContext

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else 0
    tail_k: "list[tuple]" = []
    tail_v: "list[float]" = []
    for pdf in batches:
        ks = _rolling_key_rows(keys, pdf)
        vs = pd.to_numeric(pdf[col], errors="coerce").astype(float).tolist()
        tail_k = (tail_k + ks)[-w1:]
        tail_v = (tail_v + vs)[-w1:]
    yield pd.DataFrame(
        {
            "__pid": [pid] * len(tail_v),
            "__seq": list(range(len(tail_v))),
            "__val": tail_v,
            "__keys": [list(k) for k in tail_k],
        }
    )


def _rolling_window(keys: list, col: str, window_size: int, qs_items: list, b_carries, batches):
    """The per-row window quantiles of :meth:`Dataset.rolling_quantiles`
    over one chunk, its carry (``b_carries``) prepended."""
    import numpy as np
    import pandas as pd
    from pyspark import TaskContext

    w1 = window_size - 1
    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else 0
    # carry for THIS chunk, but only rows preceding its first row
    # — partitions earlier in range order (nothing from this pid)
    ck, cv = b_carries.value.get(pid, ([], []))
    buf_k: "list[tuple]" = list(ck)
    buf_v = np.asarray(cv, dtype=np.float64)
    for pdf in batches:
        ks = _rolling_key_rows(keys, pdf)
        vs = pd.to_numeric(pdf[col], errors="coerce").to_numpy(
            dtype=np.float64, na_value=np.nan
        )
        full_k = buf_k + ks
        full_v = np.concatenate([buf_v, vs])
        nbuf = len(buf_k)
        outs = {n: np.full(len(full_v), np.nan) for n, _ in qs_items}
        ns = np.zeros(len(full_v))
        starts = [0] + [i for i in range(1, len(full_k)) if full_k[i] != full_k[i - 1]]
        for s, e in zip(starts, starts[1:] + [len(full_k)]):
            seg = full_v[s:e]
            padded = np.concatenate([np.full(w1, np.nan), seg])
            win = np.lib.stride_tricks.sliding_window_view(padded, window_size)
            sw = np.sort(win, axis=1)  # NaN sorts last
            n = (~np.isnan(win)).sum(axis=1).astype(np.float64)
            ns[s:e] = n
            rows = np.arange(len(seg))
            ni = n.astype(int)
            for name, q in qs_items:
                pos = (n - 1.0) * q
                lo = np.floor(pos)
                frac = pos - lo
                loi = np.clip(lo.astype(int), 0, window_size - 1)
                loi2 = np.clip(np.minimum(loi + 1, ni - 1), 0, window_size - 1)
                a = sw[rows, loi]
                b = sw[rows, loi2]
                outs[name][s:e] = a * (1.0 - frac) + b * frac
        res = pdf.copy()
        empty = ns == 0
        for name, _ in qs_items:
            arr = pd.array(outs[name][nbuf:], dtype="Float64")
            arr[empty[nbuf:]] = pd.NA
            res[name] = arr
        yield res
        buf_k = full_k[-w1:] if w1 else []
        buf_v = full_v[-w1:] if w1 else np.asarray([], dtype=np.float64)


class Dataset:
    """A distributed flat table annotated with ``index`` and ``id_vars``.

    Parameters mirror the reference constructor
    (``/root/reference/polars_dataset.py:12-40``):

    - ``data``: a ``pyspark.sql.DataFrame``, another ``Dataset``, or a
      list/tuple of either — lists are vertically concatenated after
      re-projecting each member to ``id_vars + [index]`` first; all member
      Datasets must share ``index`` (``ValueError``) and the union's
      ``id_vars`` is the set-union of member id_vars (reference ``:23-35``).
    - ``index``: the coordinate column; required, must exist.
    - ``id_vars``: trace identifier columns; defaults to the source
      Dataset's when wrapping one (reference ``:16-18``).
    """

    # Attributes that live on the wrapper itself (everything else delegates).
    _WRAPPER_SLOTS = ("_df", "_index", "_id_vars")

    def __init__(self, data, index: str | None = None, id_vars=None):
        if isinstance(data, Dataset):
            if index is None:
                index = data.index
            if id_vars is None:
                id_vars = list(data.id_vars)
            data = data._df
        if index is None:
            raise ValueError("Dataset requires an `index` column name")
        self._index = index
        self._id_vars = [c for c in _as_list(id_vars)]
        self._df = self._init_df(data, index)
        # validate + prune via the df setter
        self.df = self._df
        self._df = self._sorted_columns_df(self._df)

    # -- construction ------------------------------------------------------

    def _init_df(self, data, index: str) -> DataFrame:
        if isinstance(data, DataFrame):
            return data
        if isinstance(data, (list, tuple)):
            return self._concat_members(data, index)
        raise TypeError(
            f"Dataset expects a pyspark DataFrame, Dataset, or list thereof; got {type(data).__name__}"
        )

    def _concat_members(self, members: Sequence, index: str) -> DataFrame:
        # Vertical concat of homogeneous datasets: id_vars set-union,
        # members re-projected to id_vars + [index] first
        # (reference /root/reference/polars_dataset.py:23-35).
        frames: list[DataFrame] = []
        union_id_vars: list[str] = list(self._id_vars)
        datasets = []
        for m in members:
            if isinstance(m, Dataset):
                if m.index != index:
                    raise ValueError(
                        f"all member Datasets must share index {index!r}; got {m.index!r}"
                    )
                for iv in m.id_vars:
                    if iv not in union_id_vars:
                        union_id_vars.append(iv)
                datasets.append(m._df)
            elif isinstance(m, DataFrame):
                datasets.append(m)
            else:
                raise TypeError(f"cannot concat member of type {type(m).__name__}")
        self._id_vars = union_id_vars
        required = union_id_vars + [index]
        for df in datasets:
            missing = [c for c in required if c not in df.columns]
            if missing:
                raise KeyError(
                    f"member frame is missing required column(s) {missing}; "
                    f"available: {df.columns}"
                )
            rest = [c for c in df.columns if c not in required]
            frames.append(df.select(*required, *rest))
        return functools.reduce(lambda a, b: a.unionByName(b), frames)

    # -- metadata / invariants --------------------------------------------

    @property
    def df(self) -> DataFrame:
        """The underlying (lazy) Spark DataFrame."""
        return self._df

    @df.setter
    def df(self, value: DataFrame) -> None:
        # Invariants (reference /root/reference/polars_dataset.py:105-115):
        # result must be a DataFrame; index must survive (raise); id_vars
        # intersect with surviving columns (silent prune). Checks are
        # schema-only — no Spark job.
        if not isinstance(value, DataFrame):
            raise TypeError(
                f"Dataset.df must be a pyspark.sql.DataFrame, got {type(value).__name__}"
            )
        cols = value.columns
        if self._index not in cols:
            raise ValueError(
                f"transformation dropped the index column {self._index!r}; "
                f"surviving columns: {cols}"
            )
        self._id_vars = [c for c in self._id_vars if c in cols]
        self._df = value

    @property
    def index(self) -> str:
        return self._index

    @index.setter
    def index(self, name: str) -> None:
        if name not in self._df.columns:
            raise ValueError(f"index column {name!r} not in {self._df.columns}")
        self._index = name

    @property
    def id_vars(self) -> list[str]:
        return list(self._id_vars)

    @id_vars.setter
    def id_vars(self, names) -> None:
        names = _as_list(names)
        missing = [c for c in names if c not in self._df.columns]
        if missing:
            raise ValueError(f"id_vars {missing} not in {self._df.columns}")
        self._id_vars = names

    @property
    def value_vars(self) -> list[str]:
        """Derived measure columns: everything that isn't index/id_vars
        (reference /root/reference/polars_dataset.py:163-169)."""
        keyed = set(self._id_vars) | {self._index}
        return [c for c in self._df.columns if c not in keyed]

    @property
    def columns(self) -> list[str]:
        return self._df.columns

    @property
    def schema(self) -> T.StructType:
        return self._df.schema

    def set(self, index: str | None = None, id_vars=None) -> "Dataset":
        """Reassign index and/or id_vars, then canonical column order
        (reference ``set`` /root/reference/polars_dataset.py:138-143)."""
        out = self._rewrap(self._df)
        if index is not None:
            out.index = index
        if id_vars is not None:
            out.id_vars = id_vars
        out._df = out._sorted_columns_df(out._df)
        return out

    # -- delegation (the hidden 90% of the surface) ------------------------

    def _rewrap(self, df: DataFrame) -> "Dataset":
        out = object.__new__(Dataset)
        out._index = self._index
        out._id_vars = list(self._id_vars)
        out._df = df
        out.df = df  # run invariants
        return out

    def _wrap_method(self, func: Callable) -> Callable:
        # Reference _wrap_method (/root/reference/polars_dataset.py:61-72):
        # DataFrame results re-wrap into a Dataset (re-validated); any other
        # return type passes through raw.
        @functools.wraps(func)
        def wrapper(*args, **kwargs):
            args = tuple(a._df if isinstance(a, Dataset) else a for a in args)
            kwargs = {k: (v._df if isinstance(v, Dataset) else v) for k, v in kwargs.items()}
            result = func(*args, **kwargs)
            if isinstance(result, DataFrame):
                return self._rewrap(result)
            return result

        return wrapper

    def __getattr__(self, name: str):
        # Only called when normal lookup fails → delegate to the DataFrame
        # (reference __getattr__ /root/reference/polars_dataset.py:74-78).
        attr = getattr(self._df, name)
        if callable(attr):
            return self._wrap_method(attr)
        return attr

    def __getitem__(self, item):
        # Raw passthrough (reference :80-81): returns Column / DataFrame
        # unwrapped.
        return self._df[item]

    def __str__(self) -> str:
        return (
            f"Dataset(index={self._index!r}, id_vars={self._id_vars!r}, "
            f"value_vars={self.value_vars!r})"
        )

    __repr__ = __str__

    def _repr_html_(self, n: int = 10) -> str:
        """HTML preview: index cell green, id_vars blue (reference
        ``_repr_html_`` /root/reference/polars_dataset.py:86-96), rendered
        with pandas Styler over a bounded sample."""
        pdf = self._df.limit(n).toPandas()

        def colorize(col):
            if col.name == self._index:
                return ["background-color: #d3f8d3"] * len(col)
            if col.name in self._id_vars:
                return ["background-color: #d3e8f8"] * len(col)
            return [""] * len(col)

        return pdf.style.apply(colorize, axis=0).to_html()

    def __dataframe__(self, **kwargs):
        """DataFrame Interchange Protocol export (reference :98-99) via the
        Arrow exchange path. Materializes — bounded use only."""
        return self._df.toPandas().__dataframe__(**kwargs)

    def to_arrow(self):
        return self._df.toArrow()

    def scale_report(self) -> dict:
        """One-call "would this plan survive 100 TB?" audit of the
        Dataset's current plan — see
        :func:`polars_dataset_spark.plans.scale_report`."""
        from polars_dataset_spark.plans import scale_report

        return scale_report(self._df)

    # -- explicit operators (reference E3-E21) ------------------------------

    def select(self, *exprs) -> "Dataset":
        """Arbitrary projection (reference ``select`` :145-148). Dropping
        the index raises; dropped id_vars prune."""
        return self._rewrap(self._df.select(*map(_qcol, exprs)))

    def select_data(self, *exprs) -> "Dataset":
        """Projection that always keeps ``id_vars + [index]`` and appends
        the newly selected value columns (reference ``select_data``
        :153-158)."""
        keep = [*self._id_vars, self._index]
        return self._rewrap(self._df.select(*map(_qcol, [*keep, *exprs])))

    def fetch(self, *exprs) -> DataFrame:
        """Escape hatch: projection returning the raw, unwrapped Spark
        DataFrame (reference ``fetch`` :160-161)."""
        return self._df.select(*map(_qcol, exprs))

    def pivot(self, on: str, index=None, values=None, aggregate_function: str = "first") -> DataFrame:
        """Wide reshape; returns a plain DataFrame (reference ``pivot``
        :150-151). Spark requires an aggregate; default ``first`` matches
        the one-value-per-cell trace layout. Pass ``values`` (the distinct
        pivot values) to avoid the extra discovery job at scale."""
        idx = _as_list(index) or [*self._id_vars, self._index]
        idx = [c for c in idx if c in self._df.columns and c != on]
        vals = _as_list(values) or None
        agg_col = [c for c in self.value_vars if c != on]
        gp = self._df.groupBy(*map(_qcol, idx))
        pv = gp.pivot(_qname(on), vals) if vals else gp.pivot(_qname(on))
        aggf = getattr(F, aggregate_function)
        return pv.agg(*[aggf(_qcol(c)).alias(c) for c in agg_col])

    def join(self, other, **kwargs) -> "Dataset":
        """Join with another Dataset or DataFrame (reference ``join``
        :171-187). Result id_vars = left's + right's new ones (left
        preferred). Lazy — Catalyst/AQE picks broadcast-hash vs sort-merge
        at action time; pass ``how`` in polars or Spark spelling."""
        right_ids: list[str] = []
        if isinstance(other, Dataset):
            right_ids = other.id_vars
            other = other._df
        how = kwargs.pop("how", "inner")
        how = {"semi": "left_semi", "anti": "left_anti", "full": "full_outer"}.get(how, how)
        on = kwargs.pop("on", None)
        left_on = kwargs.pop("left_on", None)
        right_on = kwargs.pop("right_on", None)
        if left_on is not None:
            lo, ro = _as_list(left_on), _as_list(right_on)
            cond = functools.reduce(
                lambda a, b: a & b,
                [self._df[_qname(l)] == other[_qname(r)] for l, r in zip(lo, ro)],
            )
            joined = self._df.join(other, cond, how)
        elif how == "cross":
            joined = self._df.crossJoin(other)
        else:
            joined = self._df.join(other, on=_as_list(on) or None, how=how)
        out = self._rewrap(joined)
        merged = list(self._id_vars)
        for iv in right_ids:
            if iv not in merged and iv in joined.columns:
                merged.append(iv)
        out._id_vars = merged
        return out

    def rename(self, mapping: Mapping[str, str]) -> "Dataset":
        """Rename columns and remap index/id_vars through the mapping
        (reference ``rename`` :189-194). Metadata is remapped BEFORE the
        invariant check so renaming the index itself is legal."""
        out = object.__new__(Dataset)
        out._index = mapping.get(self._index, self._index)
        out._id_vars = [mapping.get(c, c) for c in self._id_vars]
        out._df = self._df.withColumnsRenamed(dict(mapping))
        out.df = out._df  # run invariants against the new names
        return out

    def pipe(self, func: Callable, *args, **kwargs):
        """Apply ``func(self, *args, **kwargs)``; re-wrap non-Dataset
        DataFrame results with canonical column order (reference ``pipe``
        :196-202)."""
        result = func(self, *args, **kwargs)
        if isinstance(result, Dataset):
            return result
        if isinstance(result, DataFrame):
            out = self._rewrap(result)
            out._df = out._sorted_columns_df(out._df)
            return out
        return result

    def drop(self, names) -> "Dataset":
        """Drop columns, refusing to drop the index (reference ``drop``
        :265-272)."""
        names = _as_list(names)
        if self._index in names:
            raise ValueError(f"cannot drop the index column {self._index!r}")
        return self._rewrap(self._df.drop(*names))

    def coord(self, name: str, maintain_order: bool = True) -> DataFrame:
        """Distinct values of a column. ``maintain_order=True`` reproduces
        the reference's first-seen order (reference ``coord`` :274-275) via
        a min-rowid trick; for an ordered coordinate prefer
        ``maintain_order=False`` (plain distinct + sort — cheaper: no
        monotonic id, fully codegen'd)."""
        c = _qcol(name)
        if maintain_order:
            return (
                self._df.withColumn("_rid", F.monotonically_increasing_id())
                .groupBy(c)
                .agg(F.min("_rid").alias("_o"))
                .orderBy("_o")
                .select(c)
            )
        return self._df.select(c).distinct().orderBy(c)

    def extrema(self, colname: str) -> tuple:
        """(min, max) of one column (reference ``extrema`` :277-280).
        Single aggregate job; collapses to one row — safe at any scale."""
        c = _qcol(colname)
        row = self._df.agg(F.min(c).alias("mn"), F.max(c).alias("mx")).first()
        return (row["mn"], row["mx"])

    def sort(self, *args, auto: bool = True, **kwargs) -> "Dataset":
        """Sort by explicit keys, or by ``id_vars + [index]`` when none
        given (reference ``sort`` :282-287)."""
        if args:
            keys = list(args)
        elif auto:
            keys = [*self._id_vars, self._index]
        else:
            keys = []
        descending = kwargs.pop("descending", False)
        nulls_last = kwargs.pop("nulls_last", False)
        desc = (
            _as_list(descending) if not isinstance(descending, bool) else [descending] * len(keys)
        )
        if len(desc) != len(keys):
            # zip() would silently truncate the key list (polars
            # broadcasts a scalar or errors) — make it loud
            raise ValueError(
                f"sort: descending has {len(desc)} entries for {len(keys)} keys"
            )
        def order(k, d):
            c = _qcol(k)
            if d:
                return c.desc_nulls_last() if nulls_last else c.desc()
            return c.asc_nulls_last() if nulls_last else c.asc()

        keys = [order(k, d) for k, d in zip(keys, desc)]
        return self._rewrap(self._df.orderBy(*keys)) if keys else self._rewrap(self._df)

    def _sorted_columns_df(self, df: DataFrame) -> DataFrame:
        ids = [c for c in self._id_vars if c in df.columns]
        keyed = set(ids) | {self._index}
        rest = [c for c in df.columns if c not in keyed]
        return df.select(*map(_qcol, [*ids, self._index, *rest]))

    def sort_columns(self) -> "Dataset":
        """Canonical column order ``id_vars, index, value_vars`` (reference
        ``sort_columns`` :289-292). Pure projection — no job."""
        return self._rewrap(self._sorted_columns_df(self._df))

    def drop_nan(self) -> "Dataset":
        """Drop rows where any float-typed column is IEEE NaN — distinct
        from null, matching polars' duality (reference ``drop_nan``
        :294-306). Struct columns are checked field-wise (the reference
        unnests around the filter; a nested-field predicate expresses the
        same thing without a reshape)."""
        preds = []
        for field in self._df.schema.fields:
            if isinstance(field.dataType, (T.FloatType, T.DoubleType)):
                preds.append(F.isnan(_qcol(field.name)))
            elif isinstance(field.dataType, T.StructType):
                for sub in field.dataType.fields:
                    if isinstance(sub.dataType, (T.FloatType, T.DoubleType)):
                        preds.append(F.isnan(F.col(f"{_qname(field.name)}.{_qname(sub.name)}")))
        if not preds:
            return self._rewrap(self._df)
        any_nan = functools.reduce(lambda a, b: a | b, preds)
        return self._rewrap(self._df.filter(~any_nan))

    # -- physical layout hint ----------------------------------------------

    def partition_hint(self, num_partitions: int | None = None) -> "Dataset":
        """Repartition by id_vars and sort by index within partitions.

        The reference's canonical row order (sort by ``id_vars + [index]``,
        reference :282-287) doubles as its cache-friendly physical layout.
        The Spark analog: one explicit shuffle here lets a following chain
        of per-trace operators (windows over id_vars, ``applyInPandas``
        groupings) reuse the exchange instead of each inserting its own."""
        parts = [*map(_qcol, self._id_vars)] or [_qcol(self._index)]
        df = (
            self._df.repartition(num_partitions, *parts)
            if num_partitions
            else self._df.repartition(*parts)
        )
        return self._rewrap(df.sortWithinPartitions(_qcol(self._index)))

    # -- polars-name shims (delegated-surface parity, SURVEY §2.3/§3) -------

    def filter(self, *conds) -> "Dataset":
        return self._rewrap(self._df.filter(functools.reduce(lambda a, b: a & b, conds)))

    def remove(self, *conds) -> "Dataset":
        return self._rewrap(self._df.filter(~functools.reduce(lambda a, b: a & b, conds)))

    def with_columns(self, *exprs, **named) -> "Dataset":
        cols = {}
        for e in exprs:
            if isinstance(e, Mapping):
                cols.update(e)
            elif isinstance(e, Column):
                # Column must carry an alias; Spark names it via the plan
                cols[self._df.select(e).columns[0]] = e
            else:
                raise TypeError(f"with_columns expects Columns or mappings, got {type(e).__name__}")
        cols.update(named)
        return self._rewrap(self._df.withColumns(cols))

    def with_row_index(self, name: str = "index", offset: int = 0) -> "Dataset":
        """Contiguous row index in canonical (id_vars, index) order — Spark
        has no implicit row order, so the order is made explicit here.
        Positional numbering normally plans a single-partition global
        window; this instead rides the two-pass distributed prefix sum
        (range partition → per-partition counts → offset map, same
        machinery as global sequence packing), so no stage sees more than
        one partition's rows."""
        d = _positions(self._df, [*self._id_vars, self._index])
        return self._rewrap(
            d.withColumn(name, (F.col("__cum") - 1 + offset).cast("long")).drop(
                "__one", "__cum", "__pid"
            )
        )

    def group_by(self, *keys):
        return self._df.groupBy(*map(_qcol, keys))

    def unique(self, subset=None, keep: str = "any") -> "Dataset":
        """Distinct rows over ``subset``. ``keep="any"`` maps to
        ``dropDuplicates`` (cheapest); ``"first"``/``"last"`` pick the
        representative by canonical (id_vars, index) order via a window —
        Spark has no implicit row order, so polars' maintain_order
        semantics are defined over the canonical order here."""
        sub = _as_list(subset) or None
        if keep == "any" or not sub:
            return self._rewrap(self._df.dropDuplicates(sub) if sub else self._df.dropDuplicates())
        if keep not in ("first", "last"):
            raise ValueError(f"keep must be 'any', 'first' or 'last', got {keep!r}")
        order_cols = [*map(_qcol, [*self._id_vars, self._index])]
        if keep == "last":
            order_cols = [c.desc() for c in order_cols]
        w = Window.partitionBy(*map(_qcol, sub)).orderBy(*order_cols)
        return self._rewrap(
            self._df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def n_unique(self, subset=None) -> int:
        sub = _as_list(subset) or self._df.columns
        return self._df.select(*map(_qcol, sub)).distinct().count()

    def head(self, n: int = 5) -> "Dataset":
        return self._rewrap(self._df.limit(n))

    limit = head

    def top_k(self, k: int, by, descending: bool = True) -> "Dataset":
        """Top-k by column(s) — Catalyst plans TakeOrderedAndProject (no
        full sort; per-partition heaps then a k-merge)."""
        keys = [_qcol(c).desc() if descending else _qcol(c).asc() for c in _as_list(by)]
        return self._rewrap(self._df.orderBy(*keys).limit(k))

    def unpivot(self, on=None, index=None, variable_name: str = "variable", value_name: str = "value") -> "Dataset":
        ids = [*map(_qcol, _as_list(index) or [*self._id_vars, self._index])]
        vals = [*map(_qcol, _as_list(on) or self.value_vars)]
        return self._rewrap(self._df.unpivot(ids, vals, variable_name, value_name))

    melt = unpivot

    def fill_null(self, value) -> "Dataset":
        return self._rewrap(self._df.fillna(value))

    def fill_nan(self, value) -> "Dataset":
        cols = {
            f.name: F.when(F.isnan(_qcol(f.name)), F.lit(value)).otherwise(_qcol(f.name))
            for f in self._df.schema.fields
            if isinstance(f.dataType, (T.FloatType, T.DoubleType))
        }
        return self._rewrap(self._df.withColumns(cols)) if cols else self._rewrap(self._df)

    def drop_nulls(self, subset=None) -> "Dataset":
        return self._rewrap(self._df.dropna(subset=[*map(_qname, _as_list(subset))] or None))

    def cast(self, mapping: Mapping[str, str]) -> "Dataset":
        cols = {c: _qcol(c).cast(t) for c, t in mapping.items()}
        return self._rewrap(self._df.withColumns(cols))

    def explode(self, *cols, outer: bool = False) -> "Dataset":
        """Explode list columns; ``outer=True`` keeps rows whose array is
        null/empty as a single null row (polars keeps them too)."""
        fn = F.explode_outer if outer else F.explode
        df = self._df
        for c in cols:
            df = df.withColumn(c, fn(_qcol(c)))
        return self._rewrap(df)

    def null_count(self) -> DataFrame:
        """Single-row frame of per-column null counts (polars
        ``null_count``). One aggregate job; NaN is NOT null (duality)."""
        return self._df.agg(
            *[
                F.count(F.when(_qcol(c).isNull(), 1)).alias(c)
                for c in self._df.columns
            ]
        )

    def vstack(self, other) -> "Dataset":
        other_df = other._df if isinstance(other, Dataset) else other
        return self._rewrap(self._df.unionByName(other_df))

    extend = vstack

    def concat(self, others: Iterable, how: str = "vertical") -> "Dataset":
        dfs = [o._df if isinstance(o, Dataset) else o for o in others]
        allow_missing = how == "diagonal"
        return self._rewrap(
            functools.reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=allow_missing),
                [self._df, *dfs],
            )
        )

    def quantile(
        self, colname: str, q: float, exact: bool = True, accuracy: int = 10_000
    ) -> float:
        """Quantile of one column.

        ``exact=True`` (default, polars parity): ``F.percentile`` — linear
        interpolation, but a full sort-based aggregate; at 100 TB an exact
        global quantile is the wrong default. ``exact=False`` is the scale
        path: ``percentile_approx`` (Greenwald-Khanna sketch) — one pass,
        bounded memory, mergeable map-side, rank error ≤ n/``accuracy``.
        Prefer it for anything bigger than a bench fixture unless exact
        oracle parity is required."""
        c = _qcol(colname)
        if exact:
            return self._df.agg(F.percentile(c, F.lit(q)).alias("q")).first()["q"]
        return self._df.agg(
            F.percentile_approx(c, F.lit(q), F.lit(accuracy)).alias("q")
        ).first()["q"]

    def describe(self) -> DataFrame:
        out = self._df.toDF(*map(_undot, self._df.columns)).summary()
        return out.toDF(*map(_redot, out.columns))

    # -- per-trace window helpers (the ops this data model exists for) ------

    def _trace_window(self):
        """The per-trace window every rolling/cumulative/ranking op rides.

        **Parallelism contract** (VERDICT r3): any operator built on this
        window — ``rolling_*``, ``cum_*``, ``diff``, ``pct_change`` — and
        every grouped-map kernel over the same keys (``regrid``,
        ``interpolate_frame``, ``fourier_transform``, ``lomb_scargle``,
        ``ewm_mean``, ``smooth``, all run by ``operators.structs.map_traces``,
        the one per-trace grouped map) parallelizes across TRACES:
        max concurrent tasks = the id_vars key cardinality, whatever the
        cluster size. That is inherent to per-trace semantics (the
        reference has the identical property: one thread per group), not
        a plan defect. With few, long traces, split the work upstream
        (e.g. coarse time buckets as an extra id_var) or accept the cap;
        with many traces (the 100 TB shape), ``partition_hint()`` once
        before a chain of these ops buys exchange reuse on top of full
        parallelism."""
        return Window.partitionBy(*map(_qcol, self._id_vars)).orderBy(_qcol(self._index))

    def _cumulative(self, fn, suffix: str, cols) -> "Dataset":
        """``fn`` over each column's growing trace window, as ``{col}_{suffix}``."""
        w = self._trace_window().rowsBetween(Window.unboundedPreceding, 0)
        return self._rewrap(
            self._df.withColumns({f"{c}_{suffix}": fn(_qcol(c)).over(w) for c in cols})
        )

    def cum_sum(self, *cols) -> "Dataset":
        return self._cumulative(F.sum, "cumsum", cols)

    def cum_max(self, *cols) -> "Dataset":
        return self._cumulative(F.max, "cummax", cols)

    def cum_min(self, *cols) -> "Dataset":
        return self._cumulative(F.min, "cummin", cols)

    def cum_prod(self, *cols) -> "Dataset":
        """Running product per trace (polars ``cum_prod``):
        ``F.product`` over the unbounded-preceding trace window — a
        native JVM aggregate, no log/exp detour (which would lose signs
        and zeros)."""
        return self._cumulative(F.product, "cumprod", cols or self.value_vars)

    def cum_count(self, *cols) -> "Dataset":
        """Running count of NON-NULL values per trace (polars
        ``cum_count``)."""
        return self._cumulative(F.count, "cumcount", cols or self.value_vars)

    def rle_id(self, col: str, out_col: str | None = None) -> "Dataset":
        """Run-length id per trace (polars ``rle_id``): increments whenever
        ``col`` changes from the previous row — the lag+cumsum pattern
        (same shape the sessionize oracle q25 value-checks). Null-safe
        comparison so null runs get ids too."""
        w = self._trace_window()
        # row_number guard: lag()=null is ambiguous between "no previous
        # row" (not a change — polars ids start at 0) and "previous value
        # was null" (a change)
        changed = (F.row_number().over(w) > 1) & ~_qcol(col).eqNullSafe(
            F.lag(_qcol(col), 1).over(w)
        )
        return self._rewrap(
            self._df.withColumn(
                out_col or f"{col}_rle_id",
                F.sum(F.when(changed, 1).otherwise(0)).over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
        )

    def shift(self, n: int = 1, *cols) -> "Dataset":
        cols = cols or self.value_vars
        w = self._trace_window()
        return self._rewrap(
            self._df.withColumns({f"{c}_shift": F.lag(_qcol(c), n).over(w) for c in cols})
        )

    def diff(self, *cols) -> "Dataset":
        cols = cols or self.value_vars
        w = self._trace_window()
        return self._rewrap(
            self._df.withColumns({f"{c}_diff": _qcol(c) - F.lag(_qcol(c), 1).over(w) for c in cols})
        )

    def rolling_mean(self, col: str, window_size: int, *, min_samples: int = 1) -> "Dataset":
        w = self._trace_window().rowsBetween(-(window_size - 1), 0)
        out = F.when(
            F.count(_qcol(col)).over(w) >= min_samples, F.avg(_qcol(col)).over(w)
        )
        return self._rewrap(self._df.withColumn(f"{col}_rolling_mean", out))

    def pct_change(self, *cols) -> "Dataset":
        """Relative change vs the previous row per trace (polars
        ``pct_change``): ``x/lag(x) - 1``; null at trace starts."""
        cols = cols or self.value_vars
        w = self._trace_window()
        return self._rewrap(
            self._df.withColumns(
                {
                    f"{c}_pct_change": _qcol(c) / F.lag(_qcol(c), 1).over(w) - F.lit(1.0)
                    for c in cols
                }
            )
        )

    def clip(self, col: str, lower: float | None = None, upper: float | None = None) -> "Dataset":
        """Clamp a column into [lower, upper] (polars ``clip``); one-sided
        when either bound is None. Pure expression."""
        c = _qcol(col)
        if lower is not None:
            c = F.greatest(c, F.lit(lower))
        if upper is not None:
            c = F.least(c, F.lit(upper))
        return self._rewrap(self._df.withColumn(col, c))

    def ewm_mean(self, col: str, alpha: float, adjust: bool = True) -> "Dataset":
        """Exponentially weighted mean per trace (polars ``ewm_mean``):
        the recursion is inherently sequential, so it runs as ONE
        ``map_traces`` pass per trace (vectorized ``pandas.ewm``
        inside) — the same single-shuffle grouped-map profile as regrid;
        traces are bounded, so no group exceeds executor memory."""
        return self._per_trace_column(
            f"{col}_ewm_mean", lambda t: t[col].ewm(alpha=alpha, adjust=adjust).mean()
        )

    def smooth(self, col: str, window: int = 7, polyorder: int = 2) -> "Dataset":
        """Savitzky–Golay smoothing per trace (the spectroscopy staple
        alongside regrid/FFT/autophase): degree-``polyorder`` local
        least-squares over a centered ``window``, edge regions from the
        terminal-window polynomial (scipy ``mode='interp'``), so any
        trace that IS a polynomial of that degree passes through
        unchanged. Same single-shuffle grouped-map profile as regrid —
        one Arrow batch per trace, numpy inside; parallelism = trace
        cardinality (see ``_trace_window``)."""
        from polars_dataset_spark.kernels import savgol_smooth

        return self._per_trace_column(
            f"{col}_smooth",
            lambda t: savgol_smooth(t[col].to_numpy(dtype=float), window, polyorder),
        )

    def _per_trace_column(self, name: str, values) -> "Dataset":
        """Double column ``name``, ``values(trace frame)``, via ``map_traces``."""
        from polars_dataset_spark.operators.structs import map_traces

        return map_traces(
            self,
            lambda t: t.assign(**{name: values(t)}),
            lambda fields: [*fields, T.StructField(name, T.DoubleType())],
        )

    def rolling_corr(
        self, col1: str, col2: str, window_size: int, out_col: str | None = None
    ) -> "Dataset":
        """Rolling Pearson correlation of two columns per trace (polars
        ``rolling_corr``): the co-moment identity
        (E[xy] − E[x]E[y]) / (σₓ·σᵧ) over windowed averages — five
        window aggregates on ONE frame spec, a single shuffle, all
        codegen (Spark has no corr window aggregate; this builds it
        from the ones it has). Windows with a constant side give null.

        Numerical note: the one-pass identity cancels catastrophically
        when |E[x]| ≫ σₓ (e.g. raw epoch-microsecond keys, ~1e15), so
        both columns are first centred by their per-trace mean (one
        extra partition-frame window on the SAME shuffle — correlation
        is translation-invariant). Residual error is ~1e-12 relative at
        ordinary magnitudes, far under the 4-dp comparisons used here."""
        w = self._trace_window().rowsBetween(-(window_size - 1), 0)
        wall = self._trace_window().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        x0, y0 = _qcol(col1).cast("double"), _qcol(col2).cast("double")
        x = x0 - F.avg(x0).over(wall)
        y = y0 - F.avg(y0).over(wall)
        ex, ey = F.avg(x).over(w), F.avg(y).over(w)
        exy = F.avg(x * y).over(w)
        ex2, ey2 = F.avg(x * x).over(w), F.avg(y * y).over(w)
        cov = exy - ex * ey
        vx, vy = ex2 - ex * ex, ey2 - ey * ey
        denom = F.sqrt(vx * vy)
        return self._rewrap(
            self._df.withColumn(
                out_col or f"{col1}_{col2}_rolling_corr",
                F.when(denom > 0, cov / denom),
            )
        )

    def winsorize(self, col: str, p: float = 0.05, out_col: str | None = None) -> "Dataset":
        """Clip ``col`` at its [p, 1−p] quantiles (winsorization — the
        robust-statistics tail treatment): one exact-percentile
        aggregate for the two scalars, then a map-only clip."""
        if not 0 < p < 0.5:
            raise ValueError("winsorize: p must be in (0, 0.5)")
        row = self._df.agg(
            F.percentile(_qcol(col), F.lit(p)).alias("lo"),
            F.percentile(_qcol(col), F.lit(1 - p)).alias("hi"),
        ).first()
        return self.clip(col, lower=row["lo"], upper=row["hi"]) if out_col is None else self._rewrap(
            self._df.withColumn(
                out_col,
                F.least(F.greatest(_qcol(col), F.lit(row["lo"])), F.lit(row["hi"])),
            )
        )

    def _trace_stats_grouped(self):
        """Per-trace stats' grouping: the id_vars, or one group ``__g``."""
        if not self._id_vars:
            return self._df.groupBy(F.lit(1).alias("__g"))
        return self._df.groupBy(*map(_qcol, self._id_vars))

    def _join_trace_stats(self, stats):
        """Row-preserving join of a per-trace stats frame back onto the
        raw rows: ``eqNullSafe`` on every trace key, so rows whose trace
        key is NULL keep their (null-keyed) group's stats instead of
        being silently dropped (Spark's ``on=ids`` join treats
        NULL != NULL; polars keeps null groups). No forced broadcast: the
        frame is one row per TRACE, which can itself be huge at scale —
        AQE broadcasts it when small and shuffle-joins on the trace key
        otherwise."""
        ids = self._id_vars
        if not ids:
            return self._df.crossJoin(F.broadcast(stats.drop("__g")))
        keyed = stats.select(
            *[_qcol(c).alias(f"__k_{c}") for c in ids],
            *[c for c in stats.columns if c not in ids],
        )
        cond = functools.reduce(
            lambda a, b: a & b, [_qcol(c).eqNullSafe(_qcol(f"__k_{c}")) for c in ids]
        )
        return self._df.join(keyed, cond).drop(*[f"__k_{c}" for c in ids])

    def detrend(self, col: str, out_col: str | None = None) -> "Dataset":
        """Remove each trace's least-squares linear trend (the
        spectroscopy/time-series preprocessing staple): per-trace slope
        and intercept come from ONE single-pass aggregation, broadcast
        back and subtracted map-side — no window over the raw rows, all
        codegen. The fit aggregation reduces to one row per trace
        (parallelism of the reduce = trace cardinality, see
        ``_trace_window``); the subtract stage is map-only and scales
        with the cluster regardless.

        Determinism (r9): when BOTH the index and the measure are exact
        types (integral/decimal), the fit uses exact DECIMAL(38,0)
        moment sums (measure scaled to integer units), so slope,
        intercept and the residuals are BIT-IDENTICAL regardless of
        partitioning, task order or cluster size — double co-moment
        accumulators differ in their last ulps under re-partitioning,
        which the r9 sf1 oracle sweep caught as rounded-residual
        boundary splits. Envelope: a moment sum overflowing 38 digits
        yields a null fit (honest) rather than silent noise. For
        floating-point measures the ``regr_slope``/``regr_intercept``
        co-moments remain the right tool: raw-moment OLS in doubles
        invites cancellation, and float inputs have no exact answer to
        preserve."""
        x = _qcol(self._index).cast("double")
        xt = self._df.schema[self._index].dataType
        yt = self._df.schema[col].dataType
        integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        exact = isinstance(xt, integral) and isinstance(
            yt, (T.DecimalType, *integral)
        )
        grouped = self._trace_stats_grouped()
        if exact:
            scale = yt.scale if isinstance(yt, T.DecimalType) else 0
            xc, yc = _qcol(self._index), _qcol(col)
            xu = xc.cast("decimal(38,0)")
            yu = (yc * F.lit(10**scale)).cast("decimal(38,0)")
            cond = xc.isNotNull() & yc.isNotNull()
            agg = grouped.agg(
                F.count(F.when(cond, 1)).alias("__fn"),
                F.sum(F.when(cond, xu)).alias("__fsx"),
                F.sum(F.when(cond, yu)).alias("__fsy"),
                F.sum(F.when(cond, xu * xu)).alias("__fsxx"),
                F.sum(F.when(cond, xu * yu)).alias("__fsxy"),
            )
            n, sx, sy = F.col("__fn"), F.col("__fsx"), F.col("__fsy")
            sxx, sxy = F.col("__fsxx"), F.col("__fsxy")
            den = (n * sxx - sx * sx).cast("double")
            num_s = (n * sxy - sx * sy).cast("double")
            num_b = (sy * sxx - sx * sxy).cast("double")
            sf = F.lit(float(10**scale))
            # op order mirrors the SQL oracles verbatim (cast/cast/div/
            # div) so both engines execute the identical IEEE sequence
            fit = agg.select(
                *[_qcol(c) for c in agg.columns if not c.startswith("__f")],
                F.when(den != 0, num_s / den / sf).alias("__slope"),
                F.when(den != 0, num_b / den / sf).alias("__icept"),
            )
        else:
            fit = grouped.agg(
                F.regr_slope(_qcol(col).cast("double"), x).alias("__slope"),
                F.regr_intercept(_qcol(col).cast("double"), x).alias("__icept"),
            )
        joined = self._join_trace_stats(fit)
        resid = _qcol(col) - (F.col("__slope") * x + F.col("__icept"))
        return self._rewrap(
            joined.withColumn(out_col or f"{col}_detrended", resid).drop(
                "__slope", "__icept"
            )
        )

    def normalize(self, col: str, method: str = "zscore", out_col: str | None = None) -> "Dataset":
        """Per-trace feature scaling: ``zscore`` ((v−μ)/σ) or ``minmax``
        ((v−min)/(max−min)). One tiny per-trace aggregate broadcast back,
        then a map-side expression — the grouped scaling a feature
        pipeline applies before training. Degenerate traces (σ=0 or
        max=min) scale to null rather than ±inf."""
        grouped = self._trace_stats_grouped()
        v = _qcol(col)
        if method == "zscore":
            stats = grouped.agg(F.avg(v).alias("__a"), F.stddev_samp(v).alias("__b"))
            expr = (v - F.col("__a")) / F.when(F.col("__b") != 0, F.col("__b"))
        elif method == "minmax":
            stats = grouped.agg(F.min(v).alias("__a"), F.max(v).alias("__b"))
            rng = F.col("__b") - F.col("__a")
            expr = (v - F.col("__a")) / F.when(rng != 0, rng)
        else:
            raise ValueError(f"normalize: method must be 'zscore' or 'minmax', got {method!r}")
        joined = self._join_trace_stats(stats)
        return self._rewrap(
            joined.withColumn(out_col or f"{col}_norm", expr).drop("__a", "__b")
        )

    def rank(self, col: str, method: str = "min") -> "Dataset":
        fn = {"min": F.rank, "dense": F.dense_rank}.get(method, F.rank)
        w = Window.partitionBy(*map(_qcol, self._id_vars)).orderBy(_qcol(col))
        return self._rewrap(self._df.withColumn(f"{col}_rank", fn().over(w)))

    def rolling(self, col: str, window_size: int, fn: str = "mean") -> "Dataset":
        """Generic per-trace rolling aggregate (rolling_sum/min/max/...)."""
        aggf = {"mean": F.avg, "sum": F.sum, "min": F.min, "max": F.max, "std": F.stddev}[fn]
        w = self._trace_window().rowsBetween(-(window_size - 1), 0)
        return self._rewrap(
            self._df.withColumn(f"{col}_rolling_{fn}", aggf(_qcol(col)).over(w))
        )

    def rolling_median(self, col: str, window_size: int) -> "Dataset":
        """Per-trace rolling median (polars ``rolling_median``): exact
        order statistic (quantile_cont interpolation) over a trailing
        rows frame. Runs on the chunked order-statistics engine (see
        :meth:`rolling_quantiles`), so parallelism scales with the
        cluster, not the trace cardinality."""
        return self.rolling_quantiles(
            col, {f"{col}_rolling_median": 0.5}, window_size
        )

    def rolling_quantile(self, col: str, q: float, window_size: int) -> "Dataset":
        """Per-trace rolling quantile (polars ``rolling_quantile``,
        linear interpolation) over a trailing rows frame. See
        :meth:`rolling_quantiles` for the execution shape; chaining
        several rolling order statistics of one column should use that
        method directly — one pass computes them all."""
        return self.rolling_quantiles(col, {f"{col}_rolling_q": q}, window_size)

    def rolling_quantiles(
        self, col: str, qs: "dict[str, float]", window_size: int
    ) -> "Dataset":
        """Exact rolling order statistics (quantile_cont linear
        interpolation) of ``col`` over the trailing ``window_size``-rows
        trace frame — every requested quantile in ONE pass
        (``qs``: output column name -> quantile in [0, 1]).

        Execution (r13, guide §2.6 chunk+overlap): the naive plan — a
        window over ``partitionBy(id_vars)`` — caps parallelism at the
        trace cardinality, so a handful of long traces serializes the
        whole operator (q80 measured: 5 single-core tasks, 6.2 s CPU).
        Instead the frame is range-partitioned on (id_vars, index) into
        ``spark.sql.shuffle.partitions`` chunks (traces stay contiguous,
        a trace may span chunks), pinned, and each chunk's trailing
        frames are completed with an OVERLAP carry: the last
        ``window_size - 1`` rows of every earlier chunk (collected once
        — ``n_chunks x (window_size - 1)`` slim rows, fewer chunks than
        partitions where that would pass ``_ROLLING_CARRY_ROWS``, the
        ``_global_prefix_sum`` precedent) are broadcast and
        prepended per chunk, so every row sees exactly its global
        same-trace predecessors. The per-row quantile uses the same
        formula the SQL oracles replay (sort the <= window_size frame,
        ``pos = (n-1)q``, linear between the bracketing order
        statistics, nulls skipped) via vectorized numpy inside one
        ``mapInPandas``.

        Eager at call time (with more than one chunk, the carry collect
        runs two small jobs) and
        pinned via :func:`polars_dataset_spark.session.pin` — see its
        fault-tolerance note. Ordering must be total per trace for a
        rows frame to be well-defined (same requirement the window form
        had); real NaN values (not nulls) are treated as missing,
        where the window form sorted them last."""
        from polars_dataset_spark.session import pin

        taken = set(self._df.columns)
        for name, q in qs.items():
            if not 0.0 <= q <= 1.0:
                raise ValueError(f"rolling_quantiles: {name}: q={q} not in [0, 1]")
            # collision guard (ADVICE r13), checked before the eager pin:
            # the output schema must not silently carry a duplicate field
            if name in taken:
                raise ValueError(f"rolling_quantiles: output column {name!r} already exists")
        if window_size < 1:
            raise ValueError("rolling_quantiles: window_size must be >= 1")
        w1 = window_size - 1
        # the chunks carry dot-free names (mapInPandas), restored at the end
        safe = {c: _undot(c) for c in self._df.columns}
        keys = [safe[k] for k in self._id_vars]
        index = safe[self._index]
        col = safe[col]
        spark = self._df.sparkSession
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if w1:
            n_parts = max(1, min(n_parts, _ROLLING_CARRY_ROWS // w1))
        order_cols = [*keys, index]
        d = pin(
            self._df.toDF(*safe.values())
            .repartitionByRange(n_parts, *order_cols)
            .sortWithinPartitions(*order_cols)
        )
        in_fields = list(d.schema.fields)
        out_schema = T.StructType(
            in_fields + [T.StructField(n, T.DoubleType()) for n in qs]
        )
        qs_items = list(qs.items())

        carries: "dict[int, tuple[list, list]]" = {}
        if w1 and n_parts > 1:  # one chunk has no earlier chunk to carry from
            # reads TaskContext, keeps a tail across batches (map_rows does not fit)
            tail_schema = "__pid int, __seq int, __val double, __keys array<string>"
            collected = sorted(
                d.mapInPandas(
                    functools.partial(_rolling_tails, keys, col, w1), schema=tail_schema
                ).collect(),
                key=lambda r: (r["__pid"], r["__seq"]),
            )
            # carry for chunk p = the last window_size-1 rows of all
            # chunks before p (per-chunk tails compose: the global tail
            # is always inside the concatenation of per-chunk tails)
            run_k: "list[tuple]" = []
            run_v: "list[float]" = []
            last_pid = None
            for r in collected:
                if r["__pid"] != last_pid:
                    # snapshot BEFORE absorbing this pid's tail
                    carries[r["__pid"]] = (list(run_k), list(run_v))
                    last_pid = r["__pid"]
                run_k = (run_k + [tuple(r["__keys"])])[-w1:]
                run_v = (run_v + [r["__val"]])[-w1:]
        b_carries = spark.sparkContext.broadcast(carries)

        # reads TaskContext, carries a window across batches (map_rows does not fit)
        roll = functools.partial(_rolling_window, keys, col, window_size, qs_items, b_carries)
        return self._rewrap(
            d.mapInPandas(roll, schema=out_schema).toDF(*self._df.columns, *qs)
        )

    def update(self, other, on: "list[str] | str | None" = None) -> "Dataset":
        """Update values from ``other`` (polars ``DataFrame.update`` with
        join semantics): left-join on ``on`` (default: this Dataset's
        index + id_vars) and COALESCE — where ``other`` has a non-null
        value for a shared column, it wins; everywhere else this frame's
        value is kept. Row set and schema of ``self`` are preserved; one
        broadcast-or-shuffle hash join, no window. ``other`` must be
        unique on the join key (enforced upstream by the caller — a
        duplicate key would duplicate rows, exactly as in a SQL left
        join)."""
        other_df = other._df if isinstance(other, Dataset) else other
        if on is None:
            keys = [self._index, *self._id_vars]
        else:
            keys = [on] if isinstance(on, str) else list(on)
        shared = [
            c for c in other_df.columns if c in self._df.columns and c not in keys
        ]
        missing = [c for c in keys if c not in other_df.columns]
        if missing:
            raise ValueError(f"update: join keys absent from other: {missing}")
        renamed = other_df.select(
            *map(_qcol, keys),
            *[_qcol(c).alias(f"__upd_{c}") for c in shared],
        )
        joined = self._df.join(renamed, on=keys, how="left")
        out = joined.withColumns(
            {c: F.coalesce(_qcol(f"__upd_{c}"), _qcol(c)) for c in shared}
        ).drop(*[f"__upd_{c}" for c in shared])
        return self._rewrap(out.select(*map(_qcol, self._df.columns)))

    def merge_sorted(self, other, key: str | None = None) -> "Dataset":
        """Union with ``other`` ordered by ``key`` (polars
        ``merge_sorted``). Spark has no order-preserving k-way merge at
        the API level — the realization is ``unionByName`` + sort on the
        key, which Catalyst executes as one shuffle-and-sort regardless
        of input pre-sortedness."""
        other_df = other._df if isinstance(other, Dataset) else other
        key = key or self._index
        return self._rewrap(self._df.unionByName(other_df).orderBy(_qcol(key)))

    def partition_by(
        self, *by, include_key: bool = True, max_groups: int = 10_000
    ) -> "dict[tuple, Dataset]":
        """Split into one lazy Dataset per distinct key (polars
        ``partition_by``). Only the DISTINCT KEYS are collected (bounded
        by group count, not rows); each returned Dataset is a filtered
        view — nothing materializes until the caller acts on it. Meant
        for low-cardinality keys (polars' own use); at high cardinality
        use ``groupBy``/``applyInPandas`` instead of per-group frames.

        A driver-flood guard caps the key collect at ``max_groups``
        (mirrors ``transpose``'s ``max_rows`` guard): a high-cardinality
        key raises instead of collecting millions of tuples."""
        by = list(by) or list(self._id_vars)
        if not by:
            raise ValueError("partition_by: no keys (no id_vars and none given)")
        keys = [
            tuple(r)
            for r in self._df.select(*map(_qcol, by)).distinct().limit(max_groups + 1).collect()
        ]
        if len(keys) > max_groups:
            raise ValueError(
                f"partition_by: more than {max_groups} distinct groups for "
                f"keys {by}; a dict of per-group frames at this cardinality "
                "would flood the driver — use groupBy/applyInPandas, or "
                "raise max_groups explicitly"
            )
        out = {}
        for kt in sorted(keys, key=lambda t: tuple(str(v) for v in t)):
            pred = functools.reduce(
                lambda a, b: a & b,
                [
                    _qcol(c).isNull() if v is None else (_qcol(c) == F.lit(v))
                    for c, v in zip(by, kt)
                ],
            )
            part = self._df.filter(pred)
            if not include_key:
                part = part.drop(*by)
            out[kt] = self._rewrap(part) if include_key else Dataset(part, index=self._index)
        return out

    def sample(self, n: int | None = None, fraction: float | None = None, seed: int = 0) -> "Dataset":
        """Deterministic sample (polars ``sample``): EXACTLY ``n`` rows
        (or a hash ``fraction``). The exact-n path orders by an
        engine-portable md5 of the index and takes ``n`` — Catalyst plans
        ``TakeOrderedAndProject`` (per-partition top-n, then merge), so
        no global sort materializes."""
        if (n is None) == (fraction is None):
            raise ValueError("sample: pass exactly one of n= or fraction=")
        if fraction is not None:
            return self.sample_hash(fraction, salt=str(seed))
        key = F.md5(F.concat_ws("|", _qcol(self._index).cast("string"), F.lit(str(seed))))
        ranked = self._df.orderBy(key, *map(_qcol, self._df.columns)).limit(int(n))
        return self._rewrap(ranked)

    def cut(
        self,
        col: str,
        breaks: "list[float]",
        labels: "list[str] | None" = None,
        left_closed: bool = False,
        out_col: str | None = None,
    ) -> "Dataset":
        """Bin a numeric column at ``breaks`` (polars ``cut``): intervals
        ``(-inf, b1], (b1, b2], …, (bn, inf)`` (or left-closed with
        ``left_closed=True``), labeled like polars' defaults. Pure CASE
        expression — map-only, codegen'd."""
        bs = sorted(float(b) for b in breaks)
        if labels is None:
            edges = ["-inf", *[repr(b) for b in bs], "inf"]
            if left_closed:
                labels = [f"[{lo}, {hi})" for lo, hi in zip(edges[:-1], edges[1:])]
            else:
                labels = [f"({lo}, {hi}]" for lo, hi in zip(edges[:-1], edges[1:])]
        if len(labels) != len(bs) + 1:
            raise ValueError(f"cut: need {len(bs) + 1} labels, got {len(labels)}")
        c = _qcol(col)
        expr = None
        for b, lab in zip(bs, labels[:-1]):
            cond = c < F.lit(b) if left_closed else c <= F.lit(b)
            expr = F.when(cond, F.lit(lab)) if expr is None else expr.when(cond, F.lit(lab))
        expr = expr.otherwise(F.lit(labels[-1])) if expr is not None else F.lit(labels[-1])
        return self._rewrap(self._df.withColumn(out_col or f"{col}_bin", expr))

    def qcut(self, col: str, q: int, labels: "list[str] | None" = None, out_col: str | None = None) -> "Dataset":
        """Quantile binning (polars ``qcut``): ``q`` equal-frequency bins
        split at the exact interior quantiles (one aggregate job for the
        breaks — q−1 scalars — then the same map-only CASE as :meth:`cut`)."""
        probs = [i / q for i in range(1, q)]
        row = self._df.agg(
            *[F.percentile(_qcol(col), F.lit(p)).alias(f"b{i}") for i, p in enumerate(probs)]
        ).first()
        return self.cut(col, [row[f"b{i}"] for i in range(len(probs))], labels=labels, out_col=out_col)

    def value_counts(self, col: str, sort: bool = True) -> DataFrame:
        """Frequency table of one column (polars ``value_counts``):
        ``(col, count)``, most frequent first with value tie-break."""
        out = self._df.groupBy(_qcol(col)).agg(F.count("*").alias("count"))
        if sort:
            out = out.orderBy(F.col("count").desc(), _qcol(col).asc_nulls_last())
        return out

    def mode(self, col: str) -> DataFrame:
        """All modal values of one column (polars ``mode``: every value
        tied for the highest frequency). Two aggregates, no collect of
        data rows."""
        counts = self._df.groupBy(_qcol(col)).agg(F.count("*").alias("count"))
        top = counts.agg(F.max("count").alias("mx"))
        return (
            counts.join(F.broadcast(top), on=counts["count"] == top["mx"], how="inner")
            .select(_qcol(col))
        )

    def corr(self, col1: str, col2: str) -> float:
        """Pearson correlation of two columns (polars ``corr`` /
        ``pl.corr``). One aggregate job — Catalyst's ``corr`` is a
        single-pass mergeable accumulator (co-moments), so this scales as
        a plain partial+final aggregation."""
        return self._df.agg(F.corr(_qcol(col1), _qcol(col2)).alias("c")).first()["c"]

    def cov(self, col1: str, col2: str, ddof: int = 1) -> float:
        """Sample (``ddof=1``) or population (``ddof=0``) covariance of
        two columns (polars ``cov``)."""
        fn = F.covar_samp if ddof else F.covar_pop
        return self._df.agg(fn(_qcol(col1), _qcol(col2)).alias("c")).first()["c"]

    def corr_matrix(self, *cols) -> DataFrame:
        """Pairwise Pearson correlation matrix over ``cols`` (default:
        the value columns), tidy long form ``(col_x, col_y, corr)``.
        All n·(n+1)/2 accumulators run in ONE aggregate pass over the
        data — no per-pair jobs, no collect of data rows."""
        cols = list(cols) or self.value_vars
        aggs = []
        for i, a in enumerate(cols):
            for b in cols[i:]:
                aggs.append(F.corr(_qcol(a), _qcol(b)).alias(f"{a}::{b}"))
        row = self._df.agg(*aggs).first()
        spark = self._df.sparkSession
        data = []
        for i, a in enumerate(cols):
            for b in cols[i:]:
                v = row[f"{a}::{b}"]
                v = float(v) if v is not None else None
                data.append((a, b, v))
                if a != b:
                    data.append((b, a, v))
        return spark.createDataFrame(data, "col_x string, col_y string, corr double")

    def to_dummies(
        self,
        *cols,
        separator: str = "_",
        drop_first: bool = False,
        categories: "dict[str, list] | None" = None,
    ) -> "Dataset":
        """One-hot encode categorical columns (polars ``to_dummies``):
        each distinct value becomes an indicator column
        ``{col}{separator}{value}`` (sorted by value; nulls get a
        ``{col}{separator}null`` column, as in polars). The distinct
        values are collected — bounded by the category cardinality, not
        the row count — then the encoding itself is a map-only projection
        that stays in whole-stage codegen.

        ``categories`` optionally PINS the category list per column
        (``{col: [values...]}``, ``None`` in the list = the null
        indicator): the output schema then depends only on the pin, not
        on which values happen to be present — required when the frame
        is a sample/subset and the schema must stay stable (the q101
        sf10-sweep lesson), and it skips the distinct scan entirely."""
        cols = list(cols) or [
            f.name
            for f in self._df.schema.fields
            if isinstance(f.dataType, T.StringType) and f.name in self.value_vars
        ]
        if not cols:
            raise ValueError("to_dummies: no columns given and no string value columns found")
        df = self._df
        out_cols = [c for c in df.columns if c not in cols]
        new = {}
        for c in cols:
            if categories is not None and c in categories:
                values = list(categories[c])
            else:
                values = [r[0] for r in df.select(_qcol(c)).distinct().collect()]
            if len(values) > 10_000:
                raise ValueError(
                    f"to_dummies: column {c!r} has {len(values)} distinct values; "
                    "one-hot encoding that wide is almost certainly a mistake"
                )
            non_null = sorted(v for v in values if v is not None)
            if drop_first and non_null:
                non_null = non_null[1:]
            for v in non_null:
                new[f"{c}{separator}{v}"] = (
                    F.when(_qcol(c) == F.lit(v), 1).otherwise(0).cast("tinyint")
                )
            if None in values:
                new[f"{c}{separator}null"] = (
                    F.when(_qcol(c).isNull(), 1).otherwise(0).cast("tinyint")
                )
        return self._rewrap(
            df.select(*map(_qcol, out_cols), *[e.alias(n) for n, e in new.items()])
        )

    def is_duplicated(self, subset=None, out_col: str = "is_duplicated") -> "Dataset":
        """Boolean flag per row: does any OTHER row share its ``subset``
        values (polars ``is_duplicated``)? One count window over the
        subset keys — a single hash shuffle, no self-join."""
        return self._subset_flag(subset, out_col, lambda w: F.count("*").over(w) > 1)

    def is_unique(self, subset=None, out_col: str = "is_unique") -> "Dataset":
        """Negation of :meth:`is_duplicated` (polars ``is_unique``)."""
        return self._subset_flag(subset, out_col, lambda w: F.count("*").over(w) == 1)

    def _subset_flag(self, subset, out_col: str, flag) -> "Dataset":
        """``flag(window partitioned by subset)`` as ``out_col``."""
        sub = _as_list(subset) or self._df.columns
        return self._rewrap(
            self._df.withColumn(out_col, flag(Window.partitionBy(*map(_qcol, sub))))
        )

    def is_first_distinct(self, subset=None, out_col: str = "is_first_distinct") -> "Dataset":
        """True on the first occurrence of each distinct ``subset`` value
        in canonical (id_vars, index) order (polars ``is_first_distinct``
        — polars uses row order; Spark has none, so the canonical order
        defines "first")."""
        order = [*map(_qcol, [*self._id_vars, self._index])]
        return self._subset_flag(
            subset, out_col, lambda w: F.row_number().over(w.orderBy(*order)) == 1
        )

    def is_last_distinct(self, subset=None, out_col: str = "is_last_distinct") -> "Dataset":
        """True on the last occurrence of each distinct ``subset`` value
        in canonical (id_vars, index) order."""
        order = [_qcol(c).desc() for c in [*self._id_vars, self._index]]
        return self._subset_flag(
            subset, out_col, lambda w: F.row_number().over(w.orderBy(*order)) == 1
        )

    def gather_every(self, n: int, offset: int = 0) -> "Dataset":
        """Every ``n``-th row in canonical (id_vars, index) order starting
        at ``offset`` (polars ``gather_every``). Positional semantics need
        a global row number; to avoid the single-partition global window
        this rides the same two-pass distributed prefix sum as global
        sequence packing (range partition → per-partition counts → offset
        map), so no stage sees more than one partition's rows."""
        if n < 1:
            raise ValueError("gather_every: n must be >= 1")
        d = _positions(self._df, [*self._id_vars, self._index])
        keep = ((F.col("__cum") - 1 - offset) % n == 0) & (F.col("__cum") - 1 >= offset)
        return self._rewrap(d.filter(keep).drop("__one", "__cum", "__pid"))

    def peak_max(self, col: str, out_col: str | None = None) -> "Dataset":
        """Local-maximum flag per trace (polars ``peak_max``): strictly
        greater than both neighbors; edge rows compare only against their
        one neighbor. Pure lag/lead window arithmetic — one shuffle on the
        trace key, stays in codegen."""
        return self._peak(col, out_col or f"{col}_peak_max", greater=True)

    def peak_min(self, col: str, out_col: str | None = None) -> "Dataset":
        """Local-minimum flag per trace (polars ``peak_min``)."""
        return self._peak(col, out_col or f"{col}_peak_min", greater=False)

    def _peak(self, col: str, out_col: str, greater: bool) -> "Dataset":
        w = self._trace_window()
        c = _qcol(col)
        prev, nxt = F.lag(c, 1).over(w), F.lead(c, 1).over(w)
        if greater:
            ok_prev = prev.isNull() | (c > prev)
            ok_next = nxt.isNull() | (c > nxt)
        else:
            ok_prev = prev.isNull() | (c < prev)
            ok_next = nxt.isNull() | (c < nxt)
        return self._rewrap(self._df.withColumn(out_col, ok_prev & ok_next))

    def sum_horizontal(self, *cols, out_col: str = "sum_horizontal") -> "Dataset":
        """Row-wise sum across columns (polars ``sum_horizontal``): nulls
        count as 0, all-null rows give 0 (polars semantics). Map-only,
        stays in codegen."""
        cols = list(cols) or self.value_vars
        expr = functools.reduce(
            lambda a, b: a + b, [F.coalesce(_qcol(c), F.lit(0)) for c in cols]
        )
        return self._rewrap(self._df.withColumn(out_col, expr))

    def mean_horizontal(self, *cols, out_col: str = "mean_horizontal") -> "Dataset":
        """Row-wise mean across columns, null-aware denominator (polars
        ``mean_horizontal``: nulls are excluded from both sum and
        count)."""
        cols = list(cols) or self.value_vars
        total = functools.reduce(
            lambda a, b: a + b, [F.coalesce(_qcol(c).cast("double"), F.lit(0.0)) for c in cols]
        )
        n = functools.reduce(
            lambda a, b: a + b,
            [F.when(_qcol(c).isNotNull(), 1).otherwise(0) for c in cols],
        )
        return self._rewrap(
            self._df.withColumn(out_col, F.when(n > 0, total / n))
        )

    def min_horizontal(self, *cols, out_col: str = "min_horizontal") -> "Dataset":
        """Row-wise minimum (polars ``min_horizontal``); ``least`` skips
        nulls like polars does."""
        cols = list(cols) or self.value_vars
        return self._rewrap(self._df.withColumn(out_col, F.least(*map(_qcol, cols))))

    def max_horizontal(self, *cols, out_col: str = "max_horizontal") -> "Dataset":
        """Row-wise maximum (polars ``max_horizontal``)."""
        cols = list(cols) or self.value_vars
        return self._rewrap(self._df.withColumn(out_col, F.greatest(*map(_qcol, cols))))

    def search_sorted(self, col: str, value) -> int:
        """Insertion index of ``value`` in ``col``'s sorted order (polars
        ``search_sorted``, side="left"): the number of values strictly
        below. One counting aggregate — no sort, no collect."""
        return self._df.agg(
            F.count(F.when(_qcol(col) < F.lit(value), 1)).alias("n")
        ).first()["n"]

    def hash_rows(self, subset=None, out_col: str = "row_hash", seed: int = 42) -> "Dataset":
        """Deterministic 64-bit row hash (polars ``hash_rows``) via
        JVM-side xxhash64 — engine-stable for a fixed Spark major, no
        Python in the loop."""
        sub = _as_list(subset) or self._df.columns
        return self._rewrap(
            self._df.withColumn(out_col, F.xxhash64(*map(_qcol, sub), F.lit(seed)))
        )

    def upsample(self, every: float = 1.0) -> "Dataset":
        """Insert missing index rows every ``every`` units per trace
        (polars ``upsample``): per-trace [min, max] grids generated
        distributedly (``sequence`` + ``explode`` — no driver
        involvement), left-joined back; new rows carry null values for
        later :meth:`fill_forward` / :meth:`interpolate_nulls`. Exact for
        integer-valued indexes (grid points are ``min + i·every``)."""
        ids = list(self._id_vars)
        idx = self._index
        b = self._df.groupBy(*map(_qcol, ids)).agg(
            F.min(_qcol(idx)).alias("__mn"), F.max(_qcol(idx)).alias("__mx")
        )
        n = F.floor((F.col("__mx") - F.col("__mn")) / F.lit(float(every))).cast("long")
        grid = (
            b.select(
                *map(_qcol, ids), "__mn", F.explode(F.sequence(F.lit(0).cast("long"), n)).alias("__i")
            )
            .select(
                *map(_qcol, ids),
                (F.col("__mn") + F.col("__i").cast("double") * F.lit(float(every)))
                .cast(self._df.schema[idx].dataType)
                .alias(idx),
            )
        )
        out = grid.join(self._df, on=[*ids, idx], how="left")
        return self._rewrap(out)

    def fill_forward(self, *cols, limit: int | None = None) -> "Dataset":
        """Forward fill (polars ``fill_null(strategy='forward')``): nulls
        take the latest known value within the trace, optionally only
        ``limit`` rows back. Growing window frame — O(n), incremental."""
        return self._fill_directional(cols, limit, forward=True)

    def fill_backward(self, *cols, limit: int | None = None) -> "Dataset":
        """Backward fill (polars ``fill_null(strategy='backward')``) —
        the same growing frame over descending index order."""
        return self._fill_directional(cols, limit, forward=False)

    def _fill_directional(self, cols, limit, forward: bool) -> "Dataset":
        cols = cols or tuple(
            f.name
            for f in self._df.schema.fields
            if f.name in self.value_vars
        )
        order = _qcol(self._index).asc() if forward else _qcol(self._index).desc()
        lo = Window.unboundedPreceding if limit is None else -int(limit)
        w = Window.partitionBy(*map(_qcol, self._id_vars)).orderBy(order).rowsBetween(lo, 0)
        updates = {c: F.last(_qcol(c), ignorenulls=True).over(w) for c in cols}
        return self._rewrap(self._df.withColumns(updates))

    def interpolate_nulls(self, *cols) -> "Dataset":
        """Fill null gaps by linear interpolation against the index
        within each trace (polars ``interpolate_by(index)``); leading /
        trailing nulls stay null, matching polars. Pure window
        expressions — carry the previous/next known (value, index) with
        ``last/first(ignorenulls)`` frames, then one arithmetic fill."""
        cols = cols or tuple(
            f.name
            for f in self._df.schema.fields
            if f.name in self.value_vars and isinstance(f.dataType, T.NumericType)
        )
        x = _qcol(self._index).cast("double")
        # Both lookups use GROWING frames ([unboundedPreceding, -1]), which
        # WindowExec aggregates incrementally in O(n); the naive "next"
        # frame ([1, unboundedFollowing]) is a SHRINKING frame that Spark
        # re-aggregates per row — O(n²) per partition (measured: 72 s vs
        # <1 s on 150k rows). The "next" value instead comes from the same
        # growing frame over DESCENDING index order: one exchange, two
        # in-partition sorts.
        w_prev = self._trace_window().rowsBetween(Window.unboundedPreceding, -1)
        w_next = (
            Window.partitionBy(*map(_qcol, self._id_vars))
            .orderBy(_qcol(self._index).desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        updates = {}
        for c in cols:
            v = _qcol(c)
            pv = F.last(v, ignorenulls=True).over(w_prev)
            px = F.last(F.when(v.isNotNull(), x), ignorenulls=True).over(w_prev)
            nv = F.last(v, ignorenulls=True).over(w_next)
            nx = F.last(F.when(v.isNotNull(), x), ignorenulls=True).over(w_next)
            updates[c] = F.when(v.isNotNull(), v).otherwise(
                pv + (nv - pv) * (x - px) / (nx - px)
            )
        return self._rewrap(self._df.withColumns(updates))

    # -- more delegated-surface shims (SURVEY §2.3) --------------------------

    def unnest(self, *cols) -> "Dataset":
        """Flatten struct columns to ``{name}.{field}`` scalars (polars
        ``unnest``); omit ``cols`` to flatten every struct column."""
        from polars_dataset_spark.operators.structs import _flatten

        return self._rewrap(_flatten(self._df, cols)[0])

    def tail(self, n: int = 5) -> "Dataset":
        """Last n rows in canonical (id_vars, index) order: one count job
        plus a positional :meth:`slice` — no single-partition descending
        window over the whole frame."""
        total = self._df.count()
        return self.slice(max(total - n, 0), n)

    def slice(self, offset: int, length: int) -> "Dataset":
        """Rows [offset, offset+length) of the canonical order (Spark has
        no implicit row order — defined over (id_vars, index)). Uses the
        two-pass distributed prefix sum instead of a single-partition
        global window, so positional slicing scales to any row count."""
        d = _positions(self._df, [*self._id_vars, self._index])
        return self._rewrap(
            d.filter((F.col("__cum") - 1).between(offset, offset + length - 1)).drop(
                "__one", "__cum", "__pid"
            )
        )

    def hstack(self, other) -> "Dataset":
        """Horizontal concat by canonical row position (polars ``hstack``).
        Spark has no native row-position zip — both sides get a
        ``row_number`` over their own canonical order and inner-join on
        it. The other side orders by ALL of its columns (its first column
        alone could tie, making the pairing nondeterministic) and a length
        mismatch raises like polars instead of silently inner-joining it
        away. Positions come from the two-pass distributed prefix sum
        (no single-partition window); still costly (two range exchanges +
        two counts + a join): prefer a keyed ``join``; the reference's
        own internal use (select_data) reduces to a plain projection and
        avoids this path."""
        other_df = other._df if isinstance(other, Dataset) else other
        n_self, n_other = self._df.count(), other_df.count()
        if n_self != n_other:
            raise ValueError(f"hstack: row counts differ ({n_self} vs {n_other})")
        a = _positions(self._df, [*self._id_vars, self._index])
        b = _positions(other_df, other_df.columns)
        a, b = (d.withColumnRenamed("__cum", "__pos").drop("__one", "__pid") for d in (a, b))
        return self._rewrap(a.join(b, on="__pos", how="inner").drop("__pos"))

    def approx_n_unique(self, *cols) -> DataFrame:
        cols = cols or tuple(self._df.columns)
        return self._df.agg(
            *[F.approx_count_distinct(_qcol(c)).alias(f"{c}_approx_n_unique") for c in cols]
        )

    def _agg_value_vars(self, fn) -> DataFrame:
        numeric = [
            f.name
            for f in self._df.schema.fields
            if f.name in self.value_vars and isinstance(f.dataType, T.NumericType)
        ]
        return self._df.agg(*[fn(_qcol(c)).alias(c) for c in numeric])

    def sum(self) -> DataFrame:
        """Single-row frame of per-column sums over numeric value_vars
        (polars ``DataFrame.sum`` shape)."""
        return self._agg_value_vars(F.sum)

    def mean(self) -> DataFrame:
        return self._agg_value_vars(F.avg)

    def product(self) -> DataFrame:
        """Per-column product (polars ``product``) — native ``F.product``
        aggregate, partial+final like any Catalyst agg."""
        return self._agg_value_vars(F.product)

    def min(self) -> DataFrame:
        return self._agg_value_vars(F.min)

    def max(self) -> DataFrame:
        return self._agg_value_vars(F.max)

    def median(self) -> DataFrame:
        return self._agg_value_vars(F.median)

    def std(self) -> DataFrame:
        return self._agg_value_vars(F.stddev)

    def var(self) -> DataFrame:
        return self._agg_value_vars(F.variance)

    def skew(self) -> DataFrame:
        """Per-column skewness (polars ``skew``) — Catalyst's single-pass
        mergeable central-moment accumulator."""
        return self._agg_value_vars(F.skewness)

    def kurtosis(self) -> DataFrame:
        """Per-column excess kurtosis (polars ``kurtosis``)."""
        return self._agg_value_vars(F.kurtosis)

    def hist(
        self,
        col: str,
        bins: int = 10,
        lower: float | None = None,
        upper: float | None = None,
    ) -> DataFrame:
        """Equal-width histogram of one column (polars ``hist`` shape):
        ``(bin, lo, hi, count)`` for every bin including empty ones.
        Bounds default to the column's min/max (one 2-scalar aggregate);
        values exactly at ``upper`` land in the last bin (clamp), values
        outside explicit bounds are dropped. One partial+final count
        aggregate over the bin id — no sort, no window; the bin-id
        expression is pure arithmetic, so the same floats bin identically
        in any engine."""
        if bins < 1:
            raise ValueError(f"bins must be >= 1, got {bins}")
        if lower is None or upper is None:
            row = self._df.agg(
                F.min(_qcol(col).cast("double")).alias("lo"),
                F.max(_qcol(col).cast("double")).alias("hi"),
            ).first()
            lower = float(row["lo"]) if lower is None else lower
            upper = float(row["hi"]) if upper is None else upper
        if not upper > lower:
            raise ValueError(f"upper ({upper}) must exceed lower ({lower})")
        width = (upper - lower) / bins
        x = _qcol(col).cast("double")
        bin_id = F.least(
            F.floor((x - F.lit(lower)) / F.lit(width)).cast("long"),
            F.lit(bins - 1),
        )
        counts = (
            self._df.filter(x.isNotNull() & (x >= lower) & (x <= upper))
            .groupBy(bin_id.alias("bin"))
            .agg(F.count(F.lit(1)).alias("count"))
        )
        spark = self._df.sparkSession
        grid = spark.range(bins).select(F.col("id").alias("bin"))
        return (
            grid.join(counts, "bin", "left")
            .select(
                "bin",
                (F.lit(lower) + F.col("bin") * F.lit(width)).alias("lo"),
                (F.lit(lower) + (F.col("bin") + 1) * F.lit(width)).alias("hi"),
                F.coalesce(F.col("count"), F.lit(0)).alias("count"),
            )
        )

    def transpose(self, include_header: bool = True, max_rows: int = 10_000) -> DataFrame:
        """Transpose (polars ``transpose``): columns become rows. Like
        polars, this is an inherently materializing reshape — the result
        width equals the input row count — so it is guarded by
        ``max_rows`` and meant for small summaries (a ``describe()``
        output, an aggregate row), never for data tables."""
        rows = self._df.limit(max_rows + 1).collect()
        if len(rows) > max_rows:
            raise ValueError(
                f"transpose: more than {max_rows} rows; transposing a data-"
                "scale frame is a mistake — aggregate first or raise max_rows"
            )
        cols = self._df.columns
        out_rows = []
        for c in cols:
            rec = {"column": c} if include_header else {}
            for i, r in enumerate(rows):
                v = r[c]
                rec[f"column_{i}"] = None if v is None else str(v)
            out_rows.append(rec)
        parts = (["column string"] if include_header else []) + [
            f"column_{i} string" for i in range(len(rows))
        ]
        if not parts:  # 0 rows, no header: truly empty — zero columns too
            return self._df.sparkSession.createDataFrame([], T.StructType([]))
        return self._df.sparkSession.createDataFrame(out_rows, ", ".join(parts))

    def shrink_dtype(self) -> "Dataset":
        """Downcast integer value columns to the smallest type that holds
        their observed range (polars ``shrink_dtype``) — a storage/shuffle
        optimization: ONE aggregate pass collects min/max per column
        (scalars only), then a map-only cast. Floats and strings are left
        alone (float shrinking loses precision)."""
        int_cols = [
            f.name
            for f in self._df.schema.fields
            if f.name in self.value_vars
            and isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType))
        ]
        if not int_cols:
            return self
        row = self._df.agg(
            *[F.min(_qcol(c)).alias(f"mn_{c}") for c in int_cols],
            *[F.max(_qcol(c)).alias(f"mx_{c}") for c in int_cols],
        ).first()
        casts = {}
        for c in int_cols:
            mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
            if mn is None:  # all-null column: nothing to learn
                continue
            for t, lo, hi in (
                ("tinyint", -128, 127),
                ("smallint", -32768, 32767),
                ("int", -2147483648, 2147483647),
            ):
                if lo <= mn and mx <= hi:
                    casts[c] = _qcol(c).cast(t)
                    break
        return self._rewrap(self._df.withColumns(casts)) if casts else self

    def group_by_dynamic(self, every, offset: float = 0.0, period=None):
        """Dynamic (windowed) group-by over the index (polars
        ``group_by_dynamic``): buckets of width ``period`` (default
        ``every`` — tumbling) sliding by ``every``; ``period > every``
        gives overlapping (sliding) windows, exactly polars' semantics.

        Numeric index: tumbling bucket start =
        ``floor((index - offset)/every)·every + offset``; sliding windows
        enumerate each row's covering window starts with
        ``sequence``+``explode`` — distributed row-local arithmetic, the
        fan-out factor is ``period/every``. Timestamp index: pass Spark
        interval strings (e.g. ``"1 hour"``) — realized as ``F.window``
        (window=period, slide=every), the same operator the streaming
        path uses. Returns a GroupedData with the bucket as
        ``index_start`` plus the id_vars; call ``.agg(...)`` on it."""
        dt = self._df.schema[self._index].dataType
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            win = F.window(_qcol(self._index), period or every, every)
            keyed = self._df.withColumn("__w", win).withColumn(
                "index_start", F.col("__w.start")
            ).drop("__w")
        elif period is None or float(period) == float(every):
            every = float(every)
            bucket = (
                F.floor((_qcol(self._index) - F.lit(offset)) / F.lit(every)) * F.lit(every)
                + F.lit(offset)
            )
            keyed = self._df.withColumn("index_start", bucket)
        else:
            every, period = float(every), float(period)
            if period < every:
                raise ValueError("group_by_dynamic: period must be >= every")
            x = _qcol(self._index)
            # covering starts s = offset + k·every with x - period < s <= x
            k_lo = F.floor((x - F.lit(period) - F.lit(offset)) / F.lit(every)) + 1
            k_hi = F.floor((x - F.lit(offset)) / F.lit(every))
            starts = F.transform(
                F.sequence(k_lo.cast("long"), k_hi.cast("long")),
                lambda k: k.cast("double") * F.lit(every) + F.lit(offset),
            )
            keyed = self._df.withColumn("index_start", F.explode(starts))
        return keyed.groupBy(*map(_qcol, self._id_vars), "index_start")

    # -- operator methods (reference calls these on the Dataset itself) ------

    def regrid(self, x, name: str | None = None, **kwargs) -> "Dataset":
        """Per-trace spline regrid onto grid ``x`` (reference flagship,
        ``/root/reference/polars_dataset.py:212-238``); see
        :func:`polars_dataset_spark.operators.regrid`."""
        from polars_dataset_spark.operators import regrid as _regrid

        return _regrid(self, x, name=name, **kwargs)

    def interpolate(self, x, name: str | None = None) -> "Dataset":
        """PCHIP per-trace interpolation (reference ``interpolate_frame``)."""
        from polars_dataset_spark.operators import interpolate_frame as _interp

        return _interp(self, x, name=name)

    def fourier_transform(self, value_vars=None, freq_name: str = "frequency") -> "Dataset":
        """Per-trace rFFT (advertised reference capability H5)."""
        from polars_dataset_spark.operators import fourier_transform as _ft

        return _ft(self, value_vars=value_vars, freq_name=freq_name)

    def lomb_scargle(
        self, freqs, value_vars=None, freq_name: str = "frequency"
    ) -> "Dataset":
        """Per-trace Lomb–Scargle periodogram at ``freqs`` (cycles per
        index unit) — spectral analysis directly on uneven index grids,
        where :meth:`fourier_transform` needs a :meth:`regrid` first."""
        from polars_dataset_spark.operators import lomb_scargle as _ls

        return _ls(self, freqs, value_vars=value_vars, freq_name=freq_name)

    def autophase(self, x_col: str, y_col: str, phi: float | None = None) -> "Dataset":
        """Closed-form lock-in autophase (reference H2)."""
        from polars_dataset_spark.operators import autophase as _ap

        return _ap(self, x_col, y_col, phi=phi)

    def zero_quadrature(self, struct_col: str, keep_name: str | None = None) -> "Dataset":
        """Autophase a 2-field struct, keep the in-phase part (H3)."""
        from polars_dataset_spark.operators import zero_quadrature as _zq

        return _zq(self, struct_col, keep_name=keep_name)

    def join_asof(self, other, on: str | None = None, **kwargs) -> "Dataset":
        """As-of join on the index by default (polars ``join_asof``)."""
        from polars_dataset_spark.operators import join_asof as _asof

        return _asof(self, other, on=on or self._index, **kwargs)

    def salted_join(self, other, on, how: str = "inner", salt: int = 8) -> "Dataset":
        """Equi-join with explicit key salting for the single-hot-key
        skew regime AQE cannot split; result metadata as :meth:`join`."""
        from polars_dataset_spark.operators import salted_join as _salted

        right = other._df if isinstance(other, Dataset) else other
        return self._rewrap(_salted(self._df, right, on=on, how=how, salt=salt))

    def join_range(self, intervals, start_col: str, end_col: str, **kwargs) -> "Dataset":
        """Bucketized interval-containment join of this Dataset's index
        against ``intervals`` — hash join, never BroadcastNestedLoop."""
        from polars_dataset_spark.operators import range_join as _range

        right = intervals._df if isinstance(intervals, Dataset) else intervals
        return self._rewrap(
            _range(self._df, right, self._index, start_col, end_col, **kwargs)
        )

    def sample_hash(self, fraction: float, salt: str = "") -> "Dataset":
        """Deterministic ~``fraction`` sample by id-hash of the index —
        reproducible across retries, partitionings, and engines."""
        from polars_dataset_spark.functions import hash_sample as _hs

        return self._rewrap(_hs(self._df, self._index, fraction, salt=salt))

    def sample_stratified(self, quota: int, strata=None, salt: str = "") -> "Dataset":
        """At most ``quota`` rows per stratum (default: the id_vars) in
        deterministic hash order."""
        from polars_dataset_spark.functions import stratified_sample as _ss

        cols = list(strata) if strata is not None else list(self._id_vars)
        return self._rewrap(
            _ss(self._df, cols, quota, id_col=self._index, salt=salt)
        )

    def pack_sequences(self, budget: int, tokens_col: str, streams=None) -> "Dataset":
        """Concat-and-chunk packing coordinates (bin + offset) per row,
        streamed per id_vars by default, ordered by the index."""
        from polars_dataset_spark.functions import pack_sequences as _pack

        stream_cols = list(streams) if streams is not None else list(self._id_vars)
        return self._rewrap(
            _pack(
                self._df,
                budget,
                tokens_col,
                self._index,
                stream_cols=stream_cols or None,
            )
        )

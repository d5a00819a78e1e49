"""Dataset — the engine's handle over a (possibly nested) DataFrame.

Plays the role of the reference's ``Node`` (reference
python/bamboo/nodes.py:298-416): schema navigation via attribute/index
access, ``info()`` rendering, and ``flatten(...)``. Unlike the reference
there is no separate columnar IR — the DataFrame *is* the dataset, rows
are the implicit outer repetition, and every operation stays declarative
so Catalyst plans it.
"""

from __future__ import annotations

from typing import Any, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from bamboo_spark.clusions import ColumnFilter
from bamboo_spark.flatten import FlattenStrategy, JoinType, Part, build, plan
from bamboo_spark.naming import NameStrategy
from bamboo_spark.schema import ELEM, dtype_at, navigate, render_info


class FlatFrame:
    """Result of ``Dataset.flatten()`` — a Spark DataFrame plus optional
    pandas-only column labels (MULTI_INDEX tuples)."""

    def __init__(self, df: DataFrame, pandas_labels: Optional[list]):
        self.df = df
        self._pandas_labels = pandas_labels

    def to_pandas(self) -> pd.DataFrame:
        pdf = self.df.toPandas()
        if self._pandas_labels is not None:
            pdf.columns = (
                pd.MultiIndex.from_tuples(self._pandas_labels)
                if self._pandas_labels
                else []
            )
        return pdf

    def to_arrow(self):
        """Flattened result as a pyarrow Table — the zero-copy exchange
        the reference exposes via its pybind buffer protocol (SURVEY §2
        M3); Spark's Arrow collect is the native equivalent. MULTI_INDEX
        tuple labels are a pandas-only concept and are not applied."""
        return self.df.toArrow()

    def __getattr__(self, item: str) -> Any:
        return getattr(self.df, item)


class Dataset:
    """A navigable view over a DataFrame subtree.

    ``path`` walks record fields (arrays are looked through, like the
    reference ListNode's delegate navigation, nodes.py:483-485).
    """

    def __init__(self, df: DataFrame, path: Tuple[str, ...] = ()):
        self._df = df
        self._path = path
        self._root_type = T.StructType(df.schema.fields)

    # -- navigation --------------------------------------------------------
    def _subtype(self) -> T.DataType:
        dtype: T.DataType = self._root_type
        for seg in self._path:
            dtype = navigate(dtype, seg)
        return dtype

    def _get_subnode(self, name: str) -> "Dataset":
        navigate(self._subtype(), name)  # raises if absent
        return Dataset(self._df, self._path + (name,))

    def __getattr__(self, item: str) -> "Dataset":
        if item.startswith("_"):
            raise AttributeError(item)
        return self._get_subnode(item)

    def __getitem__(self, item: str) -> "Dataset":
        return self._get_subnode(item)

    # -- introspection -----------------------------------------------------
    @property
    def df(self) -> DataFrame:
        return self._df

    @property
    def schema(self) -> T.DataType:
        return self._subtype()

    def info(self, depth: int = 3) -> str:
        return render_info(self._subtype(), depth)

    def __str__(self) -> str:
        return self.info()

    # -- the operator ------------------------------------------------------
    def flatten(
        self,
        flatten_strategy: FlattenStrategy = FlattenStrategy.FLATTEN_ALL,
        name_strategy: NameStrategy = NameStrategy.CONCATENATE_CONFLICTS,
        join: JoinType = JoinType.INNER,
        include: Any = None,
        exclude: Any = None,
    ) -> FlatFrame:
        fltr = ColumnFilter.parse(include, exclude)
        implicit_root = fltr.include.explicit or fltr.include.is_nothing()

        # arrays crossed while *navigating* to this subtree always explode
        # (the reference's buffers are already element-domain at a subnode)
        nav_chain: list = []
        logical_prefix: Tuple[str, ...] = ()
        dtype: T.DataType = self._root_type
        for seg in self._path:
            while isinstance(dtype, T.ArrayType):
                nav_chain.append(logical_prefix)
                logical_prefix = logical_prefix + (ELEM,)
                dtype = dtype.elementType
            dtype = navigate(dtype, seg)
            logical_prefix = logical_prefix + (seg,)
        # the navigated node itself may still be wrapped in arrays; those
        # belong to the subtree plan (they explode as part of the flatten)

        sub = plan(dtype, fltr, flatten_strategy, implicit_root, logical_prefix)
        part = Part(sub.columns, nav_chain + sub.chain)

        # the navigated field contributes its own name to every column,
        # mirroring RecordField._flatten appending self._name (the segments
        # *above* it do not — flatten starts at this node)
        name_seed = (self._path[-1],) if self._path else ()

        sdf, labels = build(
            self._df, self._root_type, part, join, name_strategy, name_seed
        )
        return FlatFrame(sdf, labels)

    # -- relational surface (SURVEY §7.5) ----------------------------------
    # The reference has no relational operators (SURVEY §2 end); Spark's
    # are the ceiling. Exposed as thin Dataset-preserving delegations so a
    # pipeline can stay in one handle: each is pure Catalyst, nothing added.

    def _wrap(self, df: DataFrame) -> "Dataset":
        return Dataset(df)

    def select(self, *cols) -> "Dataset":
        return self._wrap(self._df.select(*cols))

    def where(self, condition) -> "Dataset":
        return self._wrap(self._df.where(condition))

    filter = where

    def join(self, other: "Dataset", on=None, how: str = "inner") -> "Dataset":
        other_df = other.df if isinstance(other, Dataset) else other
        return self._wrap(self._df.join(other_df, on, how))

    def group_by(self, *cols):
        return self._df.groupBy(*cols)

    def agg(self, *exprs) -> "Dataset":
        return self._wrap(self._df.agg(*exprs))

    def order_by(self, *cols) -> "Dataset":
        return self._wrap(self._df.orderBy(*cols))

    def limit(self, n: int) -> "Dataset":
        return self._wrap(self._df.limit(n))

    def distinct(self) -> "Dataset":
        return self._wrap(self._df.distinct())

    def union(self, other: "Dataset") -> "Dataset":
        other_df = other.df if isinstance(other, Dataset) else other
        return self._wrap(self._df.unionByName(other_df))

    def subtract(self, other: "Dataset") -> "Dataset":
        other_df = other.df if isinstance(other, Dataset) else other
        return self._wrap(self._df.subtract(other_df))

    def intersect(self, other: "Dataset") -> "Dataset":
        other_df = other.df if isinstance(other, Dataset) else other
        return self._wrap(self._df.intersect(other_df))

    def drop(self, *cols) -> "Dataset":
        return self._wrap(self._df.drop(*cols))

    # -- convenience -------------------------------------------------------
    def to_pandas(self, **kwargs) -> pd.DataFrame:
        return self.flatten(**kwargs).to_pandas()

    def audit_plan(self, **kwargs):
        """Audit this dataset's physical plan against the scale
        contract (no cartesian/NLJ by default; require/forbid nodes,
        pushed-filter and exchange-ceiling checks) — delegates to
        :func:`bamboo_spark.plans.audit_plan`."""
        from bamboo_spark.plans import audit_plan

        return audit_plan(self.df, **kwargs)

    def to_arrow(self, **kwargs):
        """Flatten and export as a pyarrow Table (Arrow-native sink)."""
        return self.flatten(**kwargs).to_arrow()

    def write_parquet(
        self,
        path: str,
        partition_by=None,
        mode: str = "overwrite",
        **kwargs,
    ) -> None:
        """Columnar sink with small-file control — the scale-path
        counterpart of the reference's pandas-only sink (SURVEY §2 K1):
        at 100 TB results land in partitioned parquet, not a driver
        DataFrame. Delegates to operators.scale.write_partitioned."""
        from bamboo_spark.operators.scale import write_partitioned

        write_partitioned(
            self._df, path, partition_by=partition_by, mode=mode, **kwargs
        )

    def select_columns(self, include: Any = None, exclude: Any = None) -> "Dataset":
        """Read-time column pruning (the reference's from_* include/exclude
        pushdown) as a nested projection — Catalyst pushes it into the
        scan. See projection.apply_column_filter."""
        from bamboo_spark.projection import apply_column_filter

        return Dataset(apply_column_filter(self._df, include, exclude))

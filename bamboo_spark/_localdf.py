"""Arrow-native construction for DataFrames of rows the driver holds.

``spark.createDataFrame(list, schema)`` parallelizes the rows into
``defaultParallelism`` pickled RDD slices — every materialization (or
broadcast build) of such a frame is a 32-task job on a 32-core local
master, ~0.4 s of pure scheduling/pickling overhead for a frame that
holds six rows of commit metadata (measured: 0.41 s per noop
materialization, 0.6-0.7 s per broadcast-join build). Routing the same
rows through one ``pyarrow.Table`` batch keeps the frame local
(a ``LocalTableScan``, one Arrow batch, no per-row pickling): 0.09 s to
materialize, 0.22 s to broadcast — same schema, same values.

``local_df`` is for rows the driver already holds: metadata (file
lists, model grids, marker rows, fixpoint result vectors) and
``from_object``/``from_json`` documents, which are parsed on the driver
anyway. Data that lives in files must never come through here (it
belongs in scans and the ``sources`` decoders). Any conversion the
Arrow path cannot express falls back to the classic builder, so
behavior is value-identical by construction — except for naive
``datetime`` values, which Arrow reads as UTC where the classic builder
reads local time: callers pin them to aware UTC first (``from_object``
does).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    rows = list(rows)
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        if isinstance(schema, StructType):
            ssch = schema
        else:
            from pyspark.sql.types import _parse_datatype_string

            ssch = _parse_datatype_string(schema)
        asch = to_arrow_schema(ssch)
        names = [f.name for f in ssch.fields]
        # Mapping rows bind by NAME (the classic builder's dict
        # semantics); everything else binds positionally, and a width
        # mismatch must raise so the classic builder reproduces its
        # own length-mismatch error instead of columns silently
        # truncating at the schema width.
        norm = []
        for r in rows:
            if isinstance(r, Mapping):
                norm.append(tuple(r[n] for n in names))
            else:
                t = tuple(r)
                if len(t) != len(names):
                    raise ValueError(
                        "row width %d != schema width %d"
                        % (len(t), len(names))
                    )
                norm.append(t)
        cols = list(zip(*norm)) if norm else [[] for _ in asch]
        tbl = pa.Table.from_arrays(
            [
                pa.array(list(c), type=f.type)
                for c, f in zip(cols, asch)
            ],
            schema=asch,
        )
        # pyarrow does not enforce field nullability; the classic
        # builder does. A null in a non-nullable field must route to
        # the classic path so it raises rather than building a frame
        # whose schema lies to the optimizer.
        for i, f in enumerate(ssch.fields):
            if not f.nullable and tbl.column(i).null_count:
                raise ValueError(
                    "null in non-nullable field %s" % f.name
                )
        return spark.createDataFrame(tbl, ssch)
    except Exception:  # noqa: BLE001 — exactness first: classic builder
        return spark.createDataFrame(rows, schema)

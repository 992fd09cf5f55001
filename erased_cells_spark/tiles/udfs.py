"""Vectorized pandas-UDF kernels over tile columns.

Each UDF receives Arrow batches of whole tiles; the per-tile work is a
vectorized numpy kernel from the cells module (never per-cell Python).
The JVM→Python Arrow hop here plays the role of the reference's Rust→C GDAL
boundary (SURVEY.md §3.4): one batched kernel call per Arrow batch.

These return *Column expressions*, so they compose inside ordinary
DataFrame plans and Catalyst keeps pruning/pushdown around them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from erased_cells_spark.cells import CellType
from erased_cells_spark.tiles.schema import tile_to_masked_buffer

STATS_SCHEMA = StructType(
    [
        StructField("min_value", DoubleType()),
        StructField("max_value", DoubleType()),
        StructField("sum_value", DoubleType()),
        StructField("data_count", LongType()),
        StructField("nodata_count", LongType()),
    ]
)

RESULT_TILE_SCHEMA = StructType(
    [
        StructField("cell_type", StringType()),
        StructField("data", BinaryType()),
        StructField("mask", BinaryType()),
    ]
)


def _iter_tiles(cts: pd.Series, datas: pd.Series, masks: pd.Series):
    for ct, d, m in zip(cts, datas, masks):
        yield tile_to_masked_buffer(ct, d, m if m is not None else None)


@pandas_udf(STATS_SCHEMA)
def _stats_udf(cts: pd.Series, datas: pd.Series, masks: pd.Series) -> pd.DataFrame:
    mins, maxs, sums, dc, nc = [], [], [], [], []
    for mb in _iter_tiles(cts, datas, masks):
        lo, hi = mb.min_max()  # mask-aware; all-masked ⇒ inverted extremes
        d, n = mb.counts()
        mins.append(float(lo.v))
        maxs.append(float(hi.v))
        sums.append(float(mb.buffer.data.astype(np.float64)[mb.mask.data].sum()))
        dc.append(d)
        nc.append(n)
    return pd.DataFrame(
        {"min_value": mins, "max_value": maxs, "sum_value": sums, "data_count": dc, "nodata_count": nc}
    )


def tile_stats(cell_type: Column, data: Column, mask: Column) -> Column:
    """Per-tile (min, max, data, nodata) as a STRUCT column. Keep the result
    as plain columns so Catalyst can prune/filter on tile stats — the UDF
    internals are opaque, its outputs must not be."""
    return _stats_udf(cell_type, data, mask)


def tile_convert(cell_type: Column, data: Column, target: str) -> Column:
    """Widening-only whole-tile cast → new BINARY payload. NarrowingError
    propagates and fails the task (reference convert semantics)."""
    target_ct = CellType.parse(target)

    @pandas_udf(BinaryType())
    def _convert(cts: pd.Series, datas: pd.Series) -> pd.Series:
        out = []
        for ct, d in zip(cts, datas):
            from erased_cells_spark.cells import CellBuffer

            out.append(CellBuffer.from_bytes(d, CellType.parse(ct)).convert(target_ct).to_bytes())
        return pd.Series(out)

    return _convert(cell_type, data)


_OPS = {"add": "__add__", "sub": "__sub__", "mul": "__mul__", "div": "__truediv__"}


def tile_binop(
    op: str,
    l_ct: Column,
    l_data: Column,
    l_mask: Column,
    r_ct: Column,
    r_data: Column,
    r_mask: Column,
) -> Column:
    """Element-wise tile ⊕ tile: raw buffers op'd in f64 (result is always
    Float64), masks ANDed — the reference's masked-binop propagation rule."""
    meth = _OPS[op]

    @pandas_udf(RESULT_TILE_SCHEMA)
    def _binop(
        lc: pd.Series, ld: pd.Series, lm: pd.Series,
        rc: pd.Series, rd: pd.Series, rm: pd.Series,
    ) -> pd.DataFrame:
        out_d, out_m = [], []
        for lt, rt in zip(_iter_tiles(lc, ld, lm), _iter_tiles(rc, rd, rm)):
            res = getattr(lt, meth)(rt)
            out_d.append(res.buffer.to_bytes())
            out_m.append(res.mask.to_bytes())
        return pd.DataFrame(
            {"cell_type": ["Float64"] * len(out_d), "data": out_d, "mask": out_m}
        )

    return _binop(l_ct, l_data, l_mask, r_ct, r_data, r_mask)


def tile_scalar_op(
    op: str, cell_type: Column, data: Column, mask: Column, scalar: float
) -> Column:
    """tile ⊕ scalar: broadcast, mask unchanged."""
    meth = _OPS[op]
    s = np.float64(scalar)

    @pandas_udf(RESULT_TILE_SCHEMA)
    def _sop(cts: pd.Series, datas: pd.Series, masks: pd.Series) -> pd.DataFrame:
        out_d, out_m = [], []
        from erased_cells_spark.cells import CellValue

        sv = CellValue(s)
        for mb in _iter_tiles(cts, datas, masks):
            res = getattr(mb, meth)(sv)
            out_d.append(res.buffer.to_bytes())
            out_m.append(res.mask.to_bytes())
        return pd.DataFrame(
            {"cell_type": ["Float64"] * len(out_d), "data": out_d, "mask": out_m}
        )

    return _sop(cell_type, data, mask)


def tile_neg(cell_type: Column, data: Column, mask: Column) -> Column:
    """-tile with the widening-neg type table; mask preserved."""

    @pandas_udf(RESULT_TILE_SCHEMA)
    def _neg(cts: pd.Series, datas: pd.Series, masks: pd.Series) -> pd.DataFrame:
        out_c, out_d, out_m = [], [], []
        for mb in _iter_tiles(cts, datas, masks):
            res = -mb
            out_c.append(str(res.cell_type))
            out_d.append(res.buffer.to_bytes())
            out_m.append(res.mask.to_bytes())
        return pd.DataFrame({"cell_type": out_c, "data": out_d, "mask": out_m})

    return _neg(cell_type, data, mask)

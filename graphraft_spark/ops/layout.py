"""Data-layout optimization: Z-order (Morton) clustering keys.

At 100 TB the dominant cost of a selective query is how many files its
predicates can SKIP.  Sorting by one column gives perfect skipping on
that column and none on others; interleaving the bits of several
columns (Morton order — the technique behind Delta Lake OPTIMIZE
ZORDER BY and Iceberg's sort-order z-ordering) gives useful min/max
pruning on EVERY interleaved column at once, at the cost of none being
perfectly clustered.

Everything here is closed-form integer arithmetic (shifts/masks), so
it is pure codegen on Spark AND replayable verbatim by a SQL oracle —
no UDF, no RNG.

Usage shape::

    keyed = with_zorder_key(df, ["o_custkey", "o_orderkey"])
    keyed.repartitionByRange(n, "zkey") \\
         .sortWithinPartitions("zkey") \\
         .write.parquet(path)   # per-file min/max now tight on BOTH cols

Columns are first reduced to ``bits``-wide non-negative ints (the
caller picks the reduction — modulo for synthetic keys, a bucketized
rank or epoch-day for real values).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (shift, mask) ladder spreading a 16-bit int so one zero bit separates
# every payload bit: the classic Morton magic numbers
_SPREAD16 = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def spread_bits(col: Column, bits: int = 16) -> Column:
    """Spread the low ``bits`` bits of a non-negative int so each bit
    lands at twice its index (b_i → position 2i).  bits ≤ 16."""
    if not 0 < bits <= 16:
        raise ValueError("spread_bits supports 1..16 bits")
    x = col.cast("bigint").bitwiseAND(F.lit((1 << bits) - 1))
    for shift, mask in _SPREAD16:
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def zorder_key(cols: list[Column], bits: int = 16) -> Column:
    """Morton key over 2-4 columns: column j's bits occupy positions
    ``k*len(cols)+j``.  For two 16-bit columns the key is 32 bits.

    2-4 dims is the practical z-order range (each added dim halves the
    per-dim resolution at fixed key width); beyond that, prune on
    partitioning instead."""
    n = len(cols)
    if not 2 <= n <= 4:
        raise ValueError("zorder_key takes 2-4 columns")
    if bits * n > 62:
        raise ValueError("bits * n_cols must fit a signed bigint")
    # generalized spread: for n dims, place bit k of column j at
    # position k*n + j — via the 16-bit ladder for n=2, loop otherwise
    if n == 2:
        return spread_bits(cols[0], bits).bitwiseOR(
            F.shiftleft(spread_bits(cols[1], bits), 1))
    out = F.lit(0).cast("bigint")
    for j, c in enumerate(cols):
        x = c.cast("bigint").bitwiseAND(F.lit((1 << bits) - 1))
        for k in range(bits):
            bit = F.shiftright(x, k).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, k * n + j))
    return out


def zorder_key_sql(col_exprs: list[str], bits: int = 16) -> str:
    """The SAME arithmetic as :func:`zorder_key` rendered as ANSI SQL
    (n=2 ladder form), so oracles replay the key bit-for-bit."""
    if len(col_exprs) != 2:
        raise ValueError("SQL twin renders the 2-column ladder")

    def spread(e: str) -> str:
        x = f"(CAST({e} AS BIGINT) & {(1 << bits) - 1})"
        for shift, mask in _SPREAD16:
            x = f"(({x} | ({x} << {shift})) & {mask})"
        return x

    return f"({spread(col_exprs[0])} | ({spread(col_exprs[1])} << 1))"


def with_zorder_key(df: DataFrame, cols: list[str], bits: int = 16,
                    out_col: str = "zkey") -> DataFrame:
    return df.withColumn(out_col,
                         zorder_key([F.col(c) for c in cols], bits))

"""Session defaults that change query results."""

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# ÉCOLE: precomposed accent; Straße and ẞ: the sharp s in both cases;
# ΣΊΣΥΦΟΣ: final sigma; İstanbul: dotted capital I, which a Turkish
# locale maps to a plain i; ǅemal: a titlecase digraph; ＡＢＣ: fullwidth
CASES = ["ÉCOLE", "Straße", "ẞ", "ΣΊΣΥΦΟΣ", "İstanbul", "ǅemal", "ＡＢＣ"]


def test_lower_matches_python_str_lower(spark):
    """Under the session defaults (JVM case mapping, not ICU) Spark's
    lower() agrees with Python's str.lower() on the non-ASCII special
    cases, so a name lowercased in Python matches the same name
    lowercased by Spark.  A JVM whose default locale is Turkish fails
    here instead of silently matching other names."""
    from graphraft_spark.session import DEFAULT_CONFS, local_frame

    conf = "spark.sql.icu.caseMappings.enabled"
    assert spark.conf.get(conf) == DEFAULT_CONFS[conf] == "false"
    df = local_frame(spark, [{"i": i, "s": s} for i, s in enumerate(CASES)],
                     StructType.fromDDL("i int, s string"))
    got = dict(df.select("i", F.lower("s")).collect())
    assert [got[i] for i in range(len(CASES))] == [s.lower() for s in CASES]

"""PySpark-native analytics engine with the capabilities of
mbdevpl/hpctoolkit_dataframe, re-expressed Spark-first.

The reference (read-only at /root/reference/) is a pandas-DataFrame
subclass over HPCtoolkit experiment XML databases: one row per
calling-context-tree (CCT) node, one column per metric, plus callpath
operators (prefix/suffix/depth filters, ratio-of-total/parent columns,
greedy hot-path extraction, flame-graph layout).  This package provides:

- ``sources.hpctoolkit_xml``: distributed XML ingest
  (reference loader: hpctoolkit_dataframe/hpctoolkit_dataframe.py:154-216)
- ``functions.formulas``: safe finalize-formula compiler -> Spark Columns
  (reference: hpctoolkit_dataframe.py:59-76, eval-based)
- ``operators.cct``: callpath/depth filters, ratio columns, hot path
  (reference: hpctoolkit_dataframe.py:340-428)
- ``operators.flame``: flame-graph layout (reference: :430-540)
- ``frame``: metadata-carrying wrapper (reference subclasses pd.DataFrame,
  :131-152; Spark DataFrames cannot be subclassed usefully)
- ``queries.dedup / textops / vectors``, ``operators.multimodal`` and
  ``streaming``: scale extensions beyond the reference.
"""

from .frame import HPCtoolkitDataFrame
from .session import get_spark

__all__ = ["HPCtoolkitDataFrame", "get_spark"]

"""O-21: scalar pandas UDFs (Arrow-vectorized, Series→Series).

NOTE: deliberately no ``from __future__ import annotations`` here —
PySpark 4 infers the UDF eval type from *evaluated* type hints, and
postponed (stringified) annotations break that inference.
"""

import pandas as pd
from pyspark.sql.functions import pandas_udf


@pandas_udf("string")
def host_of(urls: pd.Series) -> pd.Series:
    """Vectorized hostname extraction (parity with q_project_host)."""
    return urls.str.extract(r"^https?://([^/:]+)", expand=False).fillna("")

"""The inline bound the engine decides an input by: a source decoder
(``sources/pgoutput.py``), the merge sinks (``sinks/``) and
``analytics.text.near_dup_pairs`` each pull an input under one row bound
to the driver, and the input's parquet footers decide an over-bound one
without a Spark job when they can."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

#: the one row bound under which an input is pulled to the driver in one
#: Arrow collect: the merge sinks' default ``inline_max_rows``, the pgoutput
#: decoder's message bound and ``near_dup_pairs``'s document bound
INLINE_MAX_ROWS = 32768


def footer_rows_exceed(batch: DataFrame, limit: int) -> bool:
    """True when the micro-batch's parquet footer row counts already exceed
    ``limit`` — a driver-local metadata read (no Spark job). Returns False
    when it cannot tell, and the limit(n+1) probe then decides: a batch
    not backed by local parquet files (in-memory input lists none; a
    non-parquet or remote input lists other paths) or a footer pyarrow
    cannot read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    total = 0
    for uri in batch.inputFiles():
        path = uri.removeprefix("file://").removeprefix("file:")
        if not path.endswith(".parquet") or not os.path.exists(path):
            return False
        try:
            total += pq.ParquetFile(path).metadata.num_rows
        except (OSError, pa.ArrowException):
            return False
        if total > limit:
            return True
    return False

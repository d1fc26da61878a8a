"""Exact integer <-> pandas conversions (the repo's repeat-offender bug
class): pandas represents an int64 column containing any null as float64,
silently corrupting values beyond 2^53. Every sink/reader that moves
nullable integers between Arrow/rows and pandas must route through these
helpers instead of default conversions.
"""

from __future__ import annotations


def int_types_mapper():
    """``types_mapper`` for ``to_pandas`` keeping int columns as nullable
    pandas Int64/Int32 instead of the float64 degrade."""
    import pandas as pd
    import pyarrow as pa

    return {pa.int64(): pd.Int64Dtype(), pa.int32(): pd.Int32Dtype()}.get


def frame_from_rows(rows, cols):
    """Row dicts -> pandas frame via per-column OBJECT series:
    ``pd.DataFrame(rows)`` would infer float64 for int columns containing
    any None and corrupt values beyond 2^53 before any later astype could
    save them."""
    import pandas as pd

    return pd.DataFrame(
        {c: pd.Series([r.get(c) for r in rows], dtype=object) for c in cols},
        columns=cols,
    )


def attempt_tmp(path: str) -> str:
    """Attempt-unique hidden tmp sibling for atomic publish via
    ``os.replace``: concurrent task attempts (speculation, a retry racing
    a still-flushing first attempt) must never interleave writes into one
    tmp file. Callers ``os.replace(tmp, path)`` on success; orphans from
    killed attempts match ``.*.inprogress`` and are swept by the driver
    after the job (sharded_export) or left for the next overwrite."""
    import os
    import uuid

    return os.path.join(
        os.path.dirname(os.path.abspath(path)),
        f".{os.path.basename(path)}.{os.getpid()}-{uuid.uuid4().hex[:8]}.inprogress",
    )

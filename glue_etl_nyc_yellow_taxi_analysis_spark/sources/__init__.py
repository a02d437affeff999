from .readers import (  # noqa: F401
    read_parquet,
    read_csv,
    from_rows,
    sequence_dates,
    sequence_seconds,
)
from .writers import (  # noqa: F401
    write_partitioned_parquet,
    Warehouse,
)

from sparkprep.sources.readers import (  # noqa: F401
    read_csv,
    read_jdbc,
    read_parquet,
    read_text,
)
from sparkprep.sources.writers import (  # noqa: F401
    bq_load_emulated,
    write_csv,
    write_jdbc,
    write_parquet,
)

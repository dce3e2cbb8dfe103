from sparkprep.functions.strings import (  # noqa: F401
    label_decode,
    month_token,
    pct_to_double,
    remove_all_percent,
    remove_literal,
    strip_trailing_percent,
    term_to_double,
)
from sparkprep.functions.numeric import minmax_normalize  # noqa: F401
from sparkprep.functions.logs import parse_apache_log  # noqa: F401

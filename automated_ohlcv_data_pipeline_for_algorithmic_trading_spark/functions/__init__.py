from .candles import (  # noqa: F401
    clean_symbol,
    normalize_symbol,
    epoch_to_timestamp,
    timestamp_to_epoch,
    with_calendar_cols,
    iso_utc,
    price_change_cols,
    price_change_sql,
    coalesce_aliases,
    epoch_any_unit,
)
from .timeparse import period_to_timedelta, interval_to_minutes  # noqa: F401

from .datetime import pg_dow, week_start
from .finance import pct_change

__all__ = ["pg_dow", "week_start", "pct_change"]

from .encode_stream import encode_stream
from .stats_stream import token_running_totals, token_window_stats

__all__ = [
    "encode_stream",
    "token_running_totals",
    "token_window_stats",
]

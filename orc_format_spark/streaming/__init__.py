from .encode_stream import encode_stream

__all__ = [
    "encode_stream",
]

from .incremental import encode_stream

__all__ = ["encode_stream"]

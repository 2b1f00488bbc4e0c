"""Structured Streaming surface: file-drop trigger (the reference's
upload->run path), event-time windowed/sessionized aggregations with
watermarks, and the incremental store streams built on the fold-stream
skeleton (``fold.py``)."""

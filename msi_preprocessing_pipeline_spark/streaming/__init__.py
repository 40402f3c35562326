"""Structured Streaming: streaming feature serving (the stateless serve path
runs unchanged under ``readStream``)."""

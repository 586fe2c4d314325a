"""The one place the benchmark imports the engine's synthetic media
encoders.  Only the set-up of ``campaign`` calls it; if the encoders
move to another module, this import is the line to change."""

from lwetl_spark.operators.media import synth_warc_imgtext_demo

__all__ = ["synth_warc_imgtext_demo"]

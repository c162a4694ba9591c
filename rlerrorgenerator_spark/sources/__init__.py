"""Sources: the deterministic synthetic pages and persons tables."""

from rlerrorgenerator_spark.sources.pages import extract_text, synth_pages

__all__ = ["synth_pages", "extract_text"]

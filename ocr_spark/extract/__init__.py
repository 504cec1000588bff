"""Pure (Spark-free) extraction math.

Everything here is NumPy/stdlib only; pandas is imported by `extract_frame`
alone, when it is called, so the serving path (`extract_turn`) never loads
it. The single-process oracle and the distributed job share these exact
functions, which is what makes "per-turn text equality under stable turn
ordering" structural rather than coincidental (SURVEY.md §5.2.1).
"""

from ocr_spark.extract.extractor import extract_turn, extract_frame  # noqa: F401

from ocr_spark.streaming.launch import start_stream  # noqa: F401
from ocr_spark.streaming.extract_stream import (  # noqa: F401
    bench_gram_fingerprints,
    decontam_flags,
    dedup_turns,
    dsir_ratio_table,
    enrich,
    extract_turns,
    importance_scores,
    quality_gate,
    run_extract_stream,
    turn_rates,
)
from ocr_spark.streaming.funnel import user_funnels  # noqa: F401
from ocr_spark.streaming.neardup import (  # noqa: F401
    minhash_neardup_pairs,
)
from ocr_spark.streaming.sketch import (  # noqa: F401
    countmin_window_cells,
    hll_estimate,
    hll_window_registers,
)
from ocr_spark.streaming.sessionize import sessions  # noqa: F401
from ocr_spark.streaming.stateful import conversation_summaries  # noqa: F401

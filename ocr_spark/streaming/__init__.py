from ocr_spark.streaming.extract_stream import (  # noqa: F401
    bench_gram_fingerprints,
    dsir_ratio_table,
    run_decontam_stream,
    run_dedup_stream,
    run_enrich_stream,
    run_extract_stream,
    run_importance_stream,
    run_quality_gate_stream,
    run_turn_rate_stream,
)
from ocr_spark.streaming.funnel import (  # noqa: F401
    run_funnel_stream,
)
from ocr_spark.streaming.neardup import (  # noqa: F401
    run_minhash_neardup_stream,
)
from ocr_spark.streaming.sketch import (  # noqa: F401
    hll_estimate,
    run_countmin_cell_stream,
    run_hll_register_stream,
)
from ocr_spark.streaming.sessionize import (  # noqa: F401
    run_sessionize_stream,
)
from ocr_spark.streaming.stateful import (  # noqa: F401
    run_conversation_assembly_stream,
)

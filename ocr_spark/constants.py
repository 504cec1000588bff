"""All decision thresholds of the extraction pipeline, in one place.

Mirrors the reference's style of module-level named constants
(/root/reference/handwriting/predict.py:10,13) and pins every comparator
(>= vs >) the pipeline uses; tests/test_gates.py exercises boundary values.

Every constant cites the reference computation it generalizes
(SURVEY.md §0.1 G-ids).
"""

# --- payload guards ------------------------------------------------------
# G/F2: reference caps uploads at 16 MB (main.py:6 MAX_CONTENT_LENGTH).
# Oversize turn payloads are truncated (chars), never dropped.  canonicalize
# reports the truncation, but no output column carries it yet (counting
# it belongs to the run report, ROADMAP item 3).
MAX_TURN_CHARS = 16 * 1024 * 1024

# --- segmentation-level density thresholding -----------------------------
# G3: Gaussian blur 3x3 (predict.py:52) -> moving average over block
# densities with this window.
SMOOTH_WINDOW = 3

# G4: adaptive Gaussian threshold, blockSize=21, C=5 (predict.py:55-58).
# A block is a content *candidate* iff smoothed density (0..255 scale)
# > local_mean(ADAPTIVE_WINDOW) - ADAPTIVE_C.  Comparator: strict >.
ADAPTIVE_WINDOW = 21
ADAPTIVE_C = 5.0

# G5: morphological close 5x5 (predict.py:61-62) -> a run of at most
# GAP_MAX non-candidate blocks sandwiched between candidates is flipped
# to candidate (gap closing).
GAP_MAX = 1

# --- geometric gates (applied in this order, cheap first; mirrors the
# filter order inside segment_digits, predict.py:70-87) -------------------
# G7/F3: MIN_CONTOUR_AREA=100px (predict.py:13,70-71): drop block if its
# visible char count < MIN_BLOCK_CHARS.  Comparator: < drops.
MIN_BLOCK_CHARS = 10

# G8/F4: bottom-edge watermark reject y > 0.9*H (predict.py:77-78): drop
# a block that *starts* in the last FOOTER_FRAC of the payload and is
# short (< FOOTER_MAX_WORDS words).  Comparators: strict > on position,
# < on words.
FOOTER_FRAC = 0.9
FOOTER_MAX_WORDS = 12

# G9/F5: aspect-ratio gate (predict.py:81-83) -> link-density gate: drop
# block if link_density > LINK_DENSITY_MAX (Boilerpipe-style shape gate).
# Comparator: strict >.
LINK_DENSITY_MAX = 0.5

# G10/F6: absolute min size w<8 or h<15 (predict.py:85-87) -> drop block
# if word count < MIN_WORDS.  Comparator: < drops.
MIN_WORDS = 3

# --- classification ------------------------------------------------------
# G15: Otsu split (predict.py:181) runs on the 256-bin histogram of
# quantized block densities (uint8 analogue).  Foreground = q > otsu_t
# (cv2 THRESH_BINARY convention); ties in the between-class variance
# argmax break toward the LOWEST bin (np.argmax convention).
DENSITY_BINS = 256

# Bimodality guard for the Otsu split: the split only counts when the two
# class means are separated by >= OTSU_MIN_SEPARATION bins (a near-unimodal
# density histogram — e.g. an all-content plain-text turn — must not be
# split; cv2's Otsu has the same degenerate behavior on flat images, the
# reference never applies it to accept/reject so this guard is ours).
OTSU_MIN_SEPARATION = 64

# G19: score weights: content_score =
#   W_DENSITY * d_score + W_LINK * (1 - min(link_density/LINK_DENSITY_MAX, 1))
# where d_score = 1.0 if q > otsu_t else 0.5 * q / (otsu_t + 1).
W_DENSITY = 0.6
W_LINK = 0.4

# G20/G21: a block is labeled noise iff content_score < 0.5; a
# noise-labeled block is *rescued* (kept in the pipeline with
# prob=content_score) iff content_score >= RESCUE_THRESHOLD, mirroring the
# noise-class second-best fallback (predict.py:259-269, threshold 0.15,
# comparator >=).
RESCUE_THRESHOLD = 0.15

# G22/F7: hard accept gate: probability >= CONFIDENCE_THRESHOLD
# (predict.py:10,275; comparator >=).  Note: exactly as in the reference,
# a rescued block's probability is < 0.5 and therefore never passes this
# gate — the rescue path exists for envelope parity and for the gap-close
# keep path, not as a second acceptance route.
CONFIDENCE_THRESHOLD = 0.70

# --- merge / padding -----------------------------------------------------
# G13: crop padding max(15% * min(w,h), 2) (predict.py:142-152): each
# accepted span is expanded by max(int(PAD_FRAC*span_len), PAD_MIN) chars
# per side, clamped to its raw (pre-strip) segment bounds so padding can
# never swallow structural delimiters (tags), then re-snapped to
# non-whitespace boundaries.
PAD_FRAC = 0.15
PAD_MIN = 2

# G12: merge condition — two accepted spans merge iff only whitespace
# separates them in the canonical text (interval-union in sorted order,
# mirrors the overlap merge loop predict.py:119-138).

# --- layout re-segmentation (G11 / O2) -----------------------------------
# A segment with >= LAYOUT_MIN_LINES newline-separated lines is treated as
# PDF-like layout and re-split into line runs: consecutive non-blank lines
# whose leading-space indent differs from the run head by <= INDENT_TOL
# belong to one run (mirrors line clustering tolerance 0.15*H,
# predict.py:95-112).
LAYOUT_MIN_LINES = 4
INDENT_TOL = 2

# --- distribution (plans/) ------------------------------------------------
# Default conversation bucket count for repartition + lineage granularity.
# Must be >> the UDF-stage partition count (2x cores) so hashing buckets
# into partitions balances; also the resume unit — finer = cheaper re-runs.
DEFAULT_N_BUCKETS = 256
# Static skew split: salt = turn_idx div SALT_SLICE_TURNS.  A conversation
# shorter than this (the overwhelming majority) gets the single salt 0 and
# stays whole within its bucket; a mega-conversation is split into slices
# of at most SALT_SLICE_TURNS turns that hash to different partitions.
# Deterministic, zero pre-scan — the input is read exactly once.  Safe
# because the hot path is a pure per-turn map (SURVEY.md §4.3); per-
# conversation order is restorable from turn_idx at read time.
SALT_SLICE_TURNS = 8192

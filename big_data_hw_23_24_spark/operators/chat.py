"""Chat-template rendering for SFT corpora: turns → training text with
exact loss-mask character spans.

North-star extension: the step that turns conversation records into
trainable sequences. A supervised-fine-tuning pipeline needs (a) the
rendered text under a FIXED template (here the ChatML shape
``<|im_start|>role\\ncontent<|im_end|>\\n`` per turn, concatenated in
turn order) and (b) the exact character spans of each turn's content —
the assistant spans are what the loss mask keeps, everything else is
context. Getting the offsets wrong by one character silently trains on
template tokens, so the span arithmetic is the value-checked part.

Scale shape: ``posexplode`` of the per-conversation message array
(fan-out = turns per conversation, single digits), one KEYED window
per conversation for the running offset (conversations are the
partition key — a billion-conversation corpus spreads over the
cluster). All JVM string intrinsics; no Python, no global ordering
anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PREFIX = "<|im_start|>"
SUFFIX = "<|im_end|>\n"


def chat_render_spans(convs: DataFrame) -> DataFrame:
    """Per-turn rendering arithmetic → ``(conv_id, turn, role,
    content_start, content_end, rendered)``.

    ``messages`` is ``array<struct<role string, content string>>`` in
    turn order. Offsets are 0-based character positions into the
    conversation's full rendered text (the concatenation of
    ``rendered`` in turn order): ``content_start`` is where this
    turn's content begins, ``content_end`` one past its last char —
    i.e. ``substr(text, content_start+1, content_end−content_start)``
    IS the content, pinned by test and by the oracle. Null content
    renders as empty (zero-width span), not as the string 'null'.
    """
    m = convs.select(F.col("conv_id"),
                     F.posexplode("messages").alias("turn", "_m"))
    role = F.col("_m.role")
    content = F.coalesce(F.col("_m.content"), F.lit(""))
    rendered = F.concat(F.lit(PREFIX), role, F.lit("\n"), content,
                        F.lit(SUFFIX))
    rlen = F.length(rendered).cast("long")
    w = (Window.partitionBy("conv_id").orderBy("turn")
         .rowsBetween(Window.unboundedPreceding, -1))
    start = F.coalesce(F.sum(rlen).over(w), F.lit(0).cast("long"))
    content_start = (start + len(PREFIX) + F.length(role) + 1) \
        .cast("long")
    return m.select(
        F.col("conv_id"), F.col("turn"), role.alias("role"),
        content_start.alias("content_start"),
        (content_start + F.length(content)).cast("long")
        .alias("content_end"),
        rendered.alias("rendered"))


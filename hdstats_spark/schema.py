"""Schemas and channel definitions.

The engine's primary input is the transcript table mandated by
BASELINE.json `input_hint`:

    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

The per-bucket channel vector is the engine's "band" axis (SURVEY.md §1.2) —
eight channels, deliberately matching the reference's 8-band test stack
(/root/reference/tests/test_pcm.py:13):

    [turn_rate, tokens_user, tokens_assistant, tokens_tool,
     chars_user, chars_assistant, chars_tool, tool_calls]
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

ROLES = ("user", "assistant", "tool")

#: channel column names, in band order
CHANNELS = (
    "turn_rate",
    "tokens_user",
    "tokens_assistant",
    "tokens_tool",
    "chars_user",
    "chars_assistant",
    "chars_tool",
    "tool_calls",
)

#: tier bucket widths: tier name -> date_trunc unit
TIERS = {"1m": "minute", "1h": "hour", "1d": "day"}

#: which finer tier each tier re-aggregates from (raw for 1m)
TIER_PARENT = {"1m": "raw", "1h": "1m", "1d": "1h"}

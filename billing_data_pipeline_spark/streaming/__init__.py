"""Structured Streaming layer (SURVEY.md §2.9).

The reference polls its lake with sensors and cursors (reference:
pipeline/pipeline.py:41-161); here that is a scheduled
``BillingPipeline.run()``, the only writer of ``raw_billing``. This layer
holds the catalog's event-time streaming operators:

- ``event_windows``   — watermarked tumbling/sliding/session event-time
                        aggregates, stream-stream interval joins, OHLC
                        bars, enrichment + dropDuplicatesWithinWatermark,
                        and the ``run_to_memory`` finite-drain helper.
- ``stateful``        — applyInPandasWithState custom stateful operator.
- ``rollup_stream``   — incremental materialized rollup via foreachBatch
                        (mergeable partials, versioned atomic publish).
- ``snapshot_sink``   — foreachBatch -> exactly-once versioned snapshot
                        table (epoch-keyed commits on the durability kit).
"""

from .event_windows import (  # noqa: F401
    enriched_segment_stream,
    interval_join_stream,
    ohlc_stream,
    read_event_stream,
    run_to_memory,
    session_stats_stream,
    sliding_volume_stream,
    streaming_dedup,
    tumbling_counts_stream,
)
from .rollup_stream import StreamingRollup  # noqa: F401
from .snapshot_sink import stream_to_snapshots  # noqa: F401
from .stateful import stateful_user_totals  # noqa: F401

"""Structured-streaming ingest pipelines (reference EP1).

:mod:`.loop` is the kit every loop here is built on: the state
helpers, the one writer block (``start_epoch_loop``), the one bounded
drain wait (``await_drain``) and the stateless gate (``drain_gate``).
Its contract: state is partitioned by epoch with dynamic overwrite,
a loop writes its pairs/kept rows BEFORE its state, and every state
read passes ``before_epoch`` so a replayed epoch never reads its own
partial writes back.
"""

from picoprobedataflow_spark.streaming.watch import (  # noqa: F401
    file_watch_stream,
    run_ingest_stream,
    windowed_event_rates,
)

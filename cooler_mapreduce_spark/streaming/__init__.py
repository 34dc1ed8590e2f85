"""Structured Streaming pipelines over the events stream.

The reference is batch-only (jobs poll a state machine to completion,
SURVEY.md §2.4 "Streaming: Absent"); this package adds the streaming tier
Spark-natively. Design rule: every streaming aggregation has a *batch
twin* registered in the query registry, and the two share ONE body
function that takes an events frame. The batch query calls it on
``table(...)``; the runner calls it on the stream, after applying its
watermark to the source. ``window``/``session_window`` expressions
evaluate identically over bounded input, so the DuckDB oracle verifies
the semantics, the streaming tests verify the incremental execution
(watermarks, state, output modes), and the twins agree by construction.
Where the twins must spell a step differently (the bloom gate's
crossJoin vs a lit-key join, OHLC's wall-clock bucket vs ``window``) the
step is passed in or kept apart, never branched on inside the body;
the ``applyInPandasWithState``/``transformWithState`` operators keep
their own bodies.

Every runner reads, starts and drains through :mod:`.io`: ``source``
(``readStream`` schema and ``maxFilesPerTrigger``; ``event_stream``
adds the events table's ``ts`` set-up), ``start`` (output mode,
memory/noop/``foreachBatch`` sink, checkpoint, AvailableNow) and
``drain`` (``processAllAvailable`` then ``stop``, re-raising a query
failure).
"""

from .dedup import run_streaming_dedup  # noqa: F401
from .io import drain, event_stream, source, start  # noqa: F401
from .windows import run_session_stream, run_sliding_stream, run_tumbling_stream  # noqa: F401

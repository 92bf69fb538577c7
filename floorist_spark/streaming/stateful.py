"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference is strictly batch (a cron job — `clowdapp.yaml:19-22`); this
module is the streaming extension a continuous training-data pipeline
needs: operators whose state Spark's built-in streaming aggregations can't
express. The pattern: ``readStream`` → ``groupBy(key)`` →
``applyInPandasWithState(fn, output_schema, state_schema, mode, timeout)``
where ``fn`` receives Arrow-batched pandas frames per key plus a
``GroupState`` handle.

d08 — streaming exact dedup (first-seen-wins): emit a digest's row the
first time it appears across the whole stream; thereafter suppress. This
is THE streaming primitive for ingest-time dedup of a document firehose.
State per distinct digest is one boolean — at scale the state store is
RocksDB-backed and the key space is bounded with a TTL timeout
(``GroupStateTimeout.ProcessingTimeTimeout`` + ``state.setTimeoutDuration``)
so abandoned digests age out; the hermetic demo uses NoTimeout.

Determinism note: with an ``availableNow`` trigger over one input file the
stream runs as a single micro-batch, so first-seen == min(doc_id) per
digest and the result is bit-identical to batch exact dedup — giving this
stateful operator a full DuckDB hash oracle, not just a rows-only check.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import BooleanType, LongType, StringType, StructField, StructType

from floorist_spark.session import load_table

if TYPE_CHECKING:
    import pandas as pd

_OUT_SCHEMA = StructType(
    [
        StructField("text_md5", StringType()),
        StructField("keep_doc_id", LongType()),
    ]
)
_STATE_SCHEMA = StructType([StructField("seen", LongType())])


def _stream_dir_for(sf_dir: str, table: str) -> str:
    """Streaming file source lists a directory; expose the single-file
    testdata table through a symlink dir (same trick as events e04).

    The dir name embeds a hash of the ABSOLUTE source path — two datasets
    with the same basename in different parents (/a/sf0.01 vs /b/sf0.01)
    must not share a link — and a link that no longer resolves to the
    expected source (stale tempdir from an earlier run) is re-pointed."""
    import hashlib

    src = os.path.realpath(os.path.join(sf_dir, f"{table}.parquet"))
    tag = hashlib.md5(src.encode("utf-8")).hexdigest()[:12]
    d = os.path.join(
        tempfile.gettempdir(),
        f"floorist_stream_{table}_{os.path.basename(sf_dir)}_{tag}",
    )
    os.makedirs(d, exist_ok=True)
    # a directory-shaped table (writer output with part files) must be
    # exposed as FLAT links — the streaming source does not recurse into
    # non-partition subdirectories, so linking the directory itself would
    # silently yield an EMPTY stream
    if os.path.isdir(src):
        targets = {
            f"{table}_{f}": os.path.join(src, f)
            for f in sorted(os.listdir(src))
            if f.endswith(".parquet")
        }
    else:
        targets = {f"{table}.parquet": src}
    # prune SYMLINKS whose names vanished from the current part-file set —
    # a regenerated source (different part count) would otherwise leave
    # dangling links (FileNotFoundException) or stale ones the stream
    # silently double-reads alongside the new files. Only links are
    # pruned: this helper owns the links it created, while regular files
    # are other writers' landed data (e16's incremental-run test appends
    # one) and must survive
    for name in os.listdir(d):
        path = os.path.join(d, name)
        if name not in targets and os.path.islink(path):
            os.remove(path)
    for name, target in targets.items():
        link = os.path.join(d, name)
        if os.path.islink(link) and os.path.realpath(link) != os.path.realpath(
            target
        ):
            os.remove(link)
        if not os.path.exists(link):
            os.symlink(target, link)
    return d


def _first_seen(
    key: tuple[Any, ...],
    pdfs: Iterator["pd.DataFrame"],
    state: GroupState,
) -> Iterator["pd.DataFrame"]:
    """Per-digest state function: emit min(doc_id) on first sight, suppress
    forever after. Runs once per key per micro-batch with all of that
    key's rows Arrow-batched."""
    import pandas as pd

    min_id = None
    for pdf in pdfs:
        m = int(pdf["doc_id"].min())
        min_id = m if min_id is None else min(min_id, m)
    if state.exists:
        return
    state.update((1,))
    yield pd.DataFrame({"text_md5": [key[0]], "keep_doc_id": [min_id]})


def d08_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-seen dedup over the documents stream. One shuffle on
    the digest (the stateful operator's required key partitioning); state
    store holds one entry per distinct digest."""
    batch_schema = load_table(spark, sf_dir, "documents").schema
    stream = spark.readStream.schema(batch_schema).parquet(
        _stream_dir_for(sf_dir, "documents")
    )
    deduped = (
        stream.select(
            F.md5(F.col("text").cast("binary")).alias("text_md5"), "doc_id"
        )
        .groupBy("text_md5")
        .applyInPandasWithState(
            _first_seen,
            _OUT_SCHEMA,
            _STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    from floorist_spark.streaming.tuning import STATE_KEY_BYTES, run_bounded_stream

    # one stateful operator, keyed by digest: distinct digests <= the
    # documents row count, which the parquet footers answer without a
    # data scan (see the tuning module for the scale-safety argument)
    n_docs = load_table(spark, sf_dir, "documents").count()
    return run_bounded_stream(
        deduped, "d08_stream_sink", "update",
        n_docs * STATE_KEY_BYTES, n_docs, n_docs, python_stateful=True,
    ).orderBy("keep_doc_id")


D08_SQL = """
SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id
FROM documents GROUP BY md5(text) ORDER BY keep_doc_id
"""

# ---------------------------------------------------------------------------
# e15 — custom stateful sessionizer (event-time timeouts)
# ---------------------------------------------------------------------------
#
# e08 sessionizes with the BUILT-IN session_window; this is the same
# semantics implemented as a custom applyInPandasWithState operator with
# EventTimeTimeout — the template for stateful logic session_window can't
# express (per-session ML features, session-scoped dedup, abandoned-cart
# style emissions). Sessions close on a 30-min gap; a closed session is
# EMITTED only once the event-time watermark passes its end (exactly
# e08's append-mode contract, so the two share an oracle family), via
# state.setTimeoutTimestamp on the earliest unemitted session end.

SESSION_GAP_US = 30 * 60 * 1_000_000
WATERMARK_DELAY_MIN = 10

_E15_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", LongType()),
    ]
)
# every not-yet-emitted session as parallel (start, last-event-ts, count)
# arrays, sorted by start and pairwise separated by >= the gap; ArrayType
# keeps the state one row. There is no privileged "open" slot — with
# out-of-order arrival ANY retained session can still grow, so they are
# all represented uniformly (the old open/pending split let a straggler
# front-extend the open session past a pending one, yielding overlapping
# emissions).
from pyspark.sql.types import ArrayType  # noqa: E402

_E15_STATE = StructType(
    [
        StructField("s_start", ArrayType(LongType())),
        StructField("s_last", ArrayType(LongType())),
        StructField("s_n", ArrayType(LongType())),
        # per-session: has ANY on-time (us > watermark at arrival) event
        # joined it? Sessions built ONLY from below-watermark stragglers
        # are provisional — discarded, never emitted, if still all-late
        # when they close (see _sessionize docstring)
        StructField("s_ontime", ArrayType(BooleanType())),
    ]
)


def _sessionize(
    key: tuple[Any, ...],
    pdfs: Iterator["pd.DataFrame"],
    state: GroupState,
) -> Iterator["pd.DataFrame"]:
    """Per-user sessionizer. Data call: fold new events (buffered across
    ALL Arrow chunks, then sorted ONCE by ts, event_id) into the retained
    session list with insert-and-merge semantics. Timeout call (empty
    iterator): the watermark advanced. Either way, emit every session
    whose end <= watermark, keep the rest, and arm the timeout one ms
    before the earliest still-unemitted session end (event-time timeouts
    fire only strictly beyond the armed ms).

    Buffer-then-sort matters: ``applyInPandasWithState`` delivers one
    group as MULTIPLE pandas chunks (bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch``) with no global time
    order, so sorting each chunk independently would fold out-of-order
    spans and corrupt session boundaries.

    Insert-and-merge (not append-to-open) is what keeps multi-batch
    out-of-order streams equal to the batch gaps-and-islands result: a
    cross-batch straggler may land inside ANY retained session, in a gap
    between two (forming its own), or may BRIDGE two retained sessions
    into one — the old open/pending split mishandled the bridge case and
    emitted overlapping sessions.

    Below-watermark stragglers are inserted PROVISIONALLY rather than
    dropped on sight: a straggler that fits no retained session may still
    be the true start of a session whose on-time events sort AFTER it in
    this very batch (or arrive in a later one) — dropping it eagerly
    would start that session late and undercount it vs. the batch oracle.
    Each session therefore carries an ``ontime`` flag (any event with
    us > watermark ever joined it); at flush, a CLOSED session that is
    still all-late is discarded, not emitted — its on-time counterpart
    never came, so it belongs to an already-committed region (an emitted
    end <= wm plus an on-time event's us > wm would imply a >= gap
    distance, so on-time events can never need an emitted session; only
    late-only chains can, and those are exactly what the flag
    quarantines). Residual divergence, inherent to append mode: a
    straggler landing within the gap of an ALREADY-EMITTED session's end,
    then chained to an on-time event, emits a session whose window abuts
    that earlier emission — the batch oracle would have merged them, but
    the earlier emission cannot be retracted. Standard late-data
    semantics; the watermark bounds how often it can occur."""
    import pandas as pd

    if state.exists:
        got = state.get
        sessions = [list(t) for t in zip(got[0], got[1], got[2], got[3])]
    else:
        sessions = []

    wm_us = state.getCurrentWatermarkMs() * 1000
    frames = list(pdfs)
    if frames:
        merged = (
            pd.concat(frames, ignore_index=True)
            if len(frames) > 1
            else frames[0]
        )
        for us in merged.sort_values(["us", "event_id"])["us"].astype("int64"):
            us = int(us)
            ontime = us > wm_us
            # index of the last session starting at or before us
            i = len(sessions) - 1
            while i >= 0 and sessions[i][0] > us:
                i -= 1
            if i >= 0 and us - sessions[i][1] < SESSION_GAP_US:
                # joins session i (inside span or gap-extends its tail)
                sessions[i][1] = max(sessions[i][1], us)
                sessions[i][2] += 1
                sessions[i][3] = sessions[i][3] or ontime
                nxt = i + 1
                if (
                    nxt < len(sessions)
                    and sessions[nxt][0] - sessions[i][1] < SESSION_GAP_US
                ):
                    # the extension bridged i and i+1 into one session
                    sessions[i][1] = sessions[nxt][1]
                    sessions[i][2] += sessions[nxt][2]
                    sessions[i][3] = sessions[i][3] or sessions[nxt][3]
                    del sessions[nxt]
            elif (
                i + 1 < len(sessions)
                and sessions[i + 1][0] - us < SESSION_GAP_US
            ):
                # gap-extends the FRONT of the next session (cannot also
                # bridge backwards: the branch above just ruled that out)
                sessions[i + 1][0] = us
                sessions[i + 1][2] += 1
                sessions[i + 1][3] = sessions[i + 1][3] or ontime
            else:
                # fits nothing retained: open a new session — provisional
                # (never emitted unless an on-time event joins) when the
                # event is below the watermark
                sessions.insert(i + 1, [us, us, 1, ontime])

    out, keep = [], []
    for s, l, n, ot in sessions:
        if l + SESSION_GAP_US <= wm_us:
            if ot:
                out.append((s, l, n))
            # else: closed while still all-late — provisional session
            # whose on-time counterpart never arrived; discard
        else:
            keep.append((s, l, n, ot))

    if not keep:
        state.remove()
    else:
        state.update(
            (
                [s for s, _, _, _ in keep],
                [l for _, l, _, _ in keep],
                [n for _, _, n, _ in keep],
                [ot for _, _, _, ot in keep],
            )
        )
        earliest_end = min(l for _, l, _, _ in keep) + SESSION_GAP_US
        state.setTimeoutTimestamp(
            max(earliest_end // 1000 - 1, wm_us // 1000 + 1)
        )

    if out:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out),
                "start_us": [s for s, _, _ in out],
                "end_us": [l + SESSION_GAP_US for _, l, _ in out],
                "n_events": [n for _, _, n in out],
            }
        )


def e15_custom_sessionizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming sessionization over the events stream:
    ``applyInPandasWithState`` with EventTimeTimeout, one shuffle on
    user_id (the stateful operator's key partitioning); state per user is
    the open session + the closed-but-unflushed tail, so the state store
    is bounded by open sessions exactly like the built-in e08. With one
    availableNow pass the final watermark is max(ts) − 10 min, making the
    emitted set deterministic and hash-checkable against e08's SQL oracle
    (minus the value sum, which this operator does not carry)."""
    from floorist_spark.operators.events_analytics import (
        _events_state_size,
        _events_stream,
    )

    stream = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", f"{WATERMARK_DELAY_MIN} minutes")
        .select(
            "user_id", "ts", F.expr("unix_micros(ts)").alias("us"), "event_id"
        )
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _sessionize,
        _E15_OUT,
        _E15_STATE,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    from floorist_spark.streaming.tuning import run_bounded_stream

    # two stateful operators: the event_id ingest dedup (one tiny entry
    # per event) and the per-user sessionizer state
    return (
        run_bounded_stream(
            sessions, "e15_stream_sink", "append",
            *_events_state_size(spark, sf_dir, "user_id"), python_stateful=True,
        )
        .select(
            "user_id",
            F.expr("timestamp_micros(start_us)").alias("session_start"),
            F.expr("timestamp_micros(end_us)").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )



#: oracle-side twin of the stream source's epoch gate + exactly-once
#: ingest dedup (see _canon.STREAM_EVENTS_CTE).
from floorist_spark.operators._canon import STREAM_EVENTS_CTE as _STREAM_EVENTS_CTE

E15_SQL = f"""
WITH {_STREAM_EVENTS_CTE}, flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM numbered GROUP BY user_id, session_id
-- Spark's watermark is millisecond-truncated (EventTimeStatsAccum folds
-- micros // 1000), so the cutoff here mirrors (max_us // 1000 - delay_ms)
-- * 1000 exactly; a microsecond-precise cutoff could disagree with the
-- operator for a session end landing in the sub-millisecond gap
HAVING epoch_us(max(ts) + INTERVAL 30 MINUTE)
       <= (SELECT (epoch_us(max(ts)) // 1000
                   - {WATERMARK_DELAY_MIN} * 60000) * 1000 FROM events)
ORDER BY user_id, session_start
"""

# ---------------------------------------------------------------------------
# e26 — streaming alert throttle (TTL cooldown with true state eviction)
# ---------------------------------------------------------------------------
#
# The notification/alerting primitive: per (user, event_type), emit an
# event only if no emission happened within the trailing cooldown —
# deterministically, the greedy anchor chain over (ts, event_id) order:
# the first event is kept, every later event is kept iff its timestamp is
# >= the previous KEPT event + TTL. dropDuplicatesWithinWatermark cannot
# express this (its kept representative is arrival-order-dependent); the
# custom state function makes it a pure function of the data.

#: cooldown between kept events per (user_id, event_type) key
THROTTLE_TTL_US = 72 * 3600 * 1_000_000

_E26_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("kept_us", LongType()),
        StructField("event_id", LongType()),
    ]
)
#: anchor = last kept timestamp; buf = events still above the watermark
#: (unprocessable: an earlier event could still arrive). Bounded by the
#: watermark horizon — never the stream.
_E26_STATE = StructType(
    [
        StructField("anchor_us", LongType()),
        StructField("buf_us", ArrayType(LongType())),
        StructField("buf_eid", ArrayType(LongType())),
    ]
)


def _throttle(
    key: tuple[Any, ...],
    pdfs: Iterator["pd.DataFrame"],
    state: GroupState,
) -> Iterator["pd.DataFrame"]:
    """Per-key throttle. Greedy-chain correctness requires processing
    events in FINAL time order, so an event is folded only once the
    watermark passes it (no earlier event can still arrive); younger
    events wait in a watermark-bounded buffer and a timeout re-delivers
    them when the watermark moves. State eviction: once the anchor is
    older than wm − TTL and the buffer is empty, the key's state is
    REMOVED — any future event (necessarily >= wm) would be kept
    regardless, so the anchor carries no information. That bound is what
    keeps the state store finite on an unbounded stream."""
    import pandas as pd

    if state.exists:
        anchor, buf_us, buf_eid = state.get
        buf = list(zip(buf_us, buf_eid))
    else:
        anchor, buf = None, []

    wm_us = state.getCurrentWatermarkMs() * 1000
    frames = list(pdfs)
    if frames:
        merged = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
        # applyInPandasWithState does NOT drop late rows itself — an
        # arriving event at or below the watermark must be discarded HERE,
        # or it would retroactively steal an anchor the chain already
        # committed (pinned by the cross-batch test). State-buffered
        # events below the watermark are the opposite case: they arrived
        # on time and are now safe to fold.
        buf.extend(
            (int(us), int(eid))
            for us, eid in zip(
                merged["us"].astype("int64"), merged["event_id"].astype("int64")
            )
            if us > wm_us
        )

    buf.sort()
    ripe = [(int(us), int(eid)) for us, eid in buf if us <= wm_us]
    buf = [(int(us), int(eid)) for us, eid in buf if us > wm_us]

    kept = []
    for us, eid in ripe:
        if anchor is None or us >= anchor + THROTTLE_TTL_US:
            kept.append((us, eid))
            anchor = us

    if not buf and (anchor is None or anchor + THROTTLE_TTL_US <= wm_us):
        state.remove()
    else:
        state.update((anchor, [u for u, _ in buf], [e for _, e in buf]))
        if buf:
            # arm one ms EARLY: event-time timeouts fire only when the
            # watermark advances STRICTLY beyond the armed timestamp, so
            # arming exactly at buf[0]'s ms would never fire for an event
            # whose ms equals the final watermark — the oracle's `<=`
            # cutoff would include it and the gate would mismatch
            state.setTimeoutTimestamp(
                max(buf[0][0] // 1000 - 1, wm_us // 1000 + 1)
            )
        else:
            # nothing buffered: wake when the anchor itself expires so the
            # state can be evicted instead of lingering forever
            state.setTimeoutTimestamp(
                max((anchor + THROTTLE_TTL_US) // 1000, wm_us // 1000 + 1)
            )

    if kept:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(kept),
                "event_type": [key[1]] * len(kept),
                "kept_us": [u for u, _ in kept],
                "event_id": [e for _, e in kept],
            }
        )


def e26_alert_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming TTL throttle over the events stream: one shuffle on the
    (user_id, event_type) key, state = one anchor + the watermark-bounded
    tail. With an availableNow pass the final watermark is max(ts) −
    10 min (ms-truncated), so the emitted anchor set is a deterministic
    prefix of the greedy chain — hash-checkable against the recursive-CTE
    oracle below."""
    from floorist_spark.operators.events_analytics import (
        _events_state_size,
        _events_stream,
    )

    stream = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", f"{WATERMARK_DELAY_MIN} minutes")
        .select(
            "user_id",
            "event_type",
            "ts",
            F.expr("unix_micros(ts)").alias("us"),
            "event_id",
        )
    )
    kept = stream.groupBy("user_id", "event_type").applyInPandasWithState(
        _throttle,
        _E26_OUT,
        _E26_STATE,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    from floorist_spark.streaming.tuning import run_bounded_stream

    # two stateful operators: the event_id ingest dedup (one tiny entry
    # per event) and the per-(user, event_type) throttle anchors
    return (
        run_bounded_stream(
            kept, "e26_stream_sink", "append",
            *_events_state_size(spark, sf_dir, "user_id", "event_type"),
            python_stateful=True,
        )
        .select(
            "user_id",
            "event_type",
            F.expr("timestamp_micros(kept_us)").alias("kept_ts"),
            "event_id",
        )
        .orderBy("user_id", "event_type", "kept_ts")
    )


#: greedy anchor chain per key via recursive CTE: each kept row joins to
#: its unique successor (the earliest event >= anchor + TTL); the final
#: filter mirrors the operator's ms-truncated watermark cutoff (only
#: anchors the stream could have flushed are emitted)
#:
#: SINGLE-BATCH EQUIVALENCE PRECONDITION: this oracle models only the
#: FINAL watermark cutoff, not mid-stream late drops. In a multi-batch
#: run an event arriving below the then-current watermark is dropped by
#: ``_throttle`` (pinned by test_throttle_chain_survives_batch_boundary,
#: event_id 11) but would re-anchor THIS oracle's greedy chain — so the
#: equivalence holds only for availableNow gate runs with no
#: maxFilesPerTrigger (one micro-batch, data call at wm=0). If a future
#: gate harness splits the source into multiple batches, a hash mismatch
#: here is THAT, not an engine bug.
E26_SQL = f"""
WITH RECURSIVE {_STREAM_EVENTS_CTE}, kept AS (
  SELECT user_id, event_type, ts, event_id FROM events e
  WHERE NOT EXISTS (
    SELECT 1 FROM events p
    WHERE p.user_id = e.user_id AND p.event_type = e.event_type
      AND (p.ts < e.ts OR (p.ts = e.ts AND p.event_id < e.event_id)))
  UNION ALL
  SELECT n.user_id, n.event_type, n.ts, n.event_id
  FROM kept k JOIN events n
    ON n.user_id = k.user_id AND n.event_type = k.event_type
   AND epoch_us(n.ts) >= epoch_us(k.ts) + {THROTTLE_TTL_US}
  WHERE NOT EXISTS (
    SELECT 1 FROM events p
    WHERE p.user_id = k.user_id AND p.event_type = k.event_type
      AND epoch_us(p.ts) >= epoch_us(k.ts) + {THROTTLE_TTL_US}
      AND (p.ts < n.ts OR (p.ts = n.ts AND p.event_id < n.event_id)))
)
SELECT user_id, event_type, ts AS kept_ts, event_id
FROM kept
WHERE epoch_us(ts) <= (SELECT (epoch_us(max(ts)) // 1000
                               - {WATERMARK_DELAY_MIN} * 60000) * 1000
                       FROM events)
ORDER BY user_id, event_type, kept_ts
"""


# ---------------------------------------------------------------------------
# e29 — streaming funnel completion (stateful sequence match with deadlines)
# ---------------------------------------------------------------------------
#
# Real-time conversion tracking: per user, match view → click → purchase
# where each step lands strictly after the previous one and within
# FUNNEL_TTL of it; emit ONE row the moment the purchase completes the
# chain. The stateful pattern this adds over d08 (set membership), e15
# (interval merging), and e26 (anchor chains) is SEQUENCE MATCHING with
# deadlines — per-key state is a fixed-width partial chain (two
# timestamps + a done flag), the cheapest stateful shape there is; a
# whale user costs a longer per-batch fold, never more state. Like d08's
# per-digest first-seen state, the done tombstone is retained (state is
# bounded by converted users, and a duplicate emission is worse than a
# few bytes per converter).
#
# Chain semantics are GREEDY-FROM-EARLIEST, the e09 strict-order funnel
# plus deadlines: t_view = the user's first view (the anchor — it never
# rewinds, the e26 late-data rule), t_click = first click in
# (t_view, t_view + TTL], purchase completes in (t_click, t_click + TTL].
# A single availableNow batch folds ALL events in (ts, event_id) order,
# so the emitted set equals the batch oracle exactly — no watermark
# filter needed (a completion is final; nothing is ever retracted).
# Multi-batch runs drop stragglers that would rewrite an already-chosen
# anchor (pinned by test_streaming_state.py).

#: per-step deadline: next stage must land within 24h of the previous
FUNNEL_TTL_US = 24 * 3600 * 1_000_000

#: strict stage order (e09's FUNNEL_STAGES)
_FUNNEL_SEQ = ("view", "click", "purchase")

_E29_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("view_us", LongType()),
        StructField("click_us", LongType()),
        StructField("purchase_us", LongType()),
    ]
)
_E29_STATE = StructType(
    [
        StructField("t_view", LongType()),
        StructField("t_click", LongType()),
        StructField("done", BooleanType()),
    ]
)


def _funnel_match(
    key: tuple[Any, ...],
    pdfs: Iterator["pd.DataFrame"],
    state: GroupState,
) -> Iterator["pd.DataFrame"]:
    """Fold this batch's events (buffered across chunks, sorted once by
    (us, event_id) — the e15 buffer-then-sort rule) into the partial
    chain; emit on completion and tombstone the key."""
    import pandas as pd

    if state.exists:
        t_view, t_click, done = state.get
    else:
        t_view, t_click, done = None, None, False

    out = None
    frames = list(pdfs)
    if frames and not done:
        merged = (
            pd.concat(frames, ignore_index=True)
            if len(frames) > 1
            else frames[0]
        )
        merged = merged.sort_values(["us", "event_id"])
        for us, et in zip(
            merged["us"].astype("int64"), merged["event_type"]
        ):
            us = int(us)
            if et == _FUNNEL_SEQ[0]:
                if t_view is None:
                    t_view = us
            elif et == _FUNNEL_SEQ[1]:
                if (
                    t_view is not None
                    and t_click is None
                    and t_view < us <= t_view + FUNNEL_TTL_US
                ):
                    t_click = us
            elif et == _FUNNEL_SEQ[2]:
                if (
                    t_click is not None
                    and t_click < us <= t_click + FUNNEL_TTL_US
                ):
                    done = True
                    out = pd.DataFrame(
                        {
                            "user_id": [key[0]],
                            "view_us": [t_view],
                            "click_us": [t_click],
                            "purchase_us": [us],
                        }
                    )
                    break

    state.update((t_view, t_click, done))
    if out is not None:
        yield out


def e29_streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel completions over the events stream: one shuffle
    on user_id (the stateful operator's key partitioning); emission is
    immediate on completion — append-safe because a completion can never
    be retracted."""
    from floorist_spark.operators.events_analytics import (
        _events_state_size,
        _events_stream,
    )

    stream = _events_stream(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("us"),
        "event_id",
    )
    completions = stream.groupBy("user_id").applyInPandasWithState(
        _funnel_match,
        _E29_OUT,
        _E29_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    from floorist_spark.streaming.tuning import run_bounded_stream

    # two stateful operators: the event_id ingest dedup (one tiny entry
    # per event) and the per-user partial funnel chains
    return (
        run_bounded_stream(
            completions, "e29_stream_sink", "append",
            *_events_state_size(spark, sf_dir, "user_id"), python_stateful=True,
        )
        .select(
            "user_id",
            F.expr("timestamp_micros(view_us)").alias("t_view"),
            F.expr("timestamp_micros(click_us)").alias("t_click"),
            F.expr("timestamp_micros(purchase_us)").alias("t_purchase"),
        )
        .orderBy("user_id")
    )


#: the batch twin of the greedy-from-earliest chain: first view, first
#: qualifying click, first qualifying purchase — completions only. No
#: watermark term: completions are emitted the moment they happen, so
#: stream and batch agree whenever all of a user's events share a batch
#: (the availableNow gate run); multi-batch straggler divergence is
#: documented at the state function.
E29_SQL = f"""
WITH {_STREAM_EVENTS_CTE}, v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = '{_FUNNEL_SEQ[0]}' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t_click FROM events e JOIN v USING (user_id)
  WHERE e.event_type = '{_FUNNEL_SEQ[1]}' AND e.ts > v.t_view
    AND epoch_us(e.ts) <= epoch_us(v.t_view) + {FUNNEL_TTL_US}
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase FROM events e JOIN c USING (user_id)
  WHERE e.event_type = '{_FUNNEL_SEQ[2]}' AND e.ts > c.t_click
    AND epoch_us(e.ts) <= epoch_us(c.t_click) + {FUNNEL_TTL_US}
  GROUP BY e.user_id
)
SELECT user_id, t_view, t_click, t_purchase
FROM v JOIN c USING (user_id) JOIN p USING (user_id)
ORDER BY user_id
"""


QUERIES = {
    "d08_streaming_dedup": d08_streaming_dedup,
    "e15_custom_sessionizer": e15_custom_sessionizer,
    "e26_alert_throttle": e26_alert_throttle,
    "e29_streaming_funnel": e29_streaming_funnel,
}
ORACLES = {
    "d08_streaming_dedup": D08_SQL,
    "e15_custom_sessionizer": E15_SQL,
    "e26_alert_throttle": E26_SQL,
    "e29_streaming_funnel": E29_SQL,
}

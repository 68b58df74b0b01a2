"""Event routing engine: the reference's DSL + dispatch layer rebuilt
on foreachBatch.

Parity map:
  on_event/on_insert/on_update/on_delete  <- lib/walex/event/dsl.ex:30-84
  handler registry + dispatch loop        <- lib/walex/events/event_modules.ex:35-63
  subscriptions / config                  <- lib/walex/config/config.ex:138-182
  exactly-once + ordering contract        <- README.md:377-381 (checkpoint +
                                             lsn dedup, SURVEY.md §2.7)

The reference compiles `on_*` macros into module functions discovered
by naming convention; here registration is explicit (no convention
magic): `engine.on_insert("user", handler, unwatched_fields=[...])`.
Each microbatch applies filter_and_cast per registration and invokes
the handler with the resulting Event DataFrame.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame

from walex_spark.operators import transforms as X


def to_module_name(name: str) -> str:
    """snake_case table -> CamelCase module segment — byte-parity with
    the reference's ``to_module_name/1`` (config.ex:152-166), including
    its quirk of leaving already-capitalized parts untouched
    (``user_Account`` -> ``UserAccount``, ``HTTP_log`` -> ``HTTPLog``).
    The reference's test is first-char == upcase(first-char) — TRUE for
    digits and punctuation, so ``user_2FA`` stays ``User2FA``; an
    ``isupper()`` test would be False for '2' and capitalize() would
    lowercase the tail (``User2fa``)."""
    return "".join(
        p if p[:1] == p[:1].upper() else p.capitalize()
        for p in str(name).split("_")
    )


@dataclass
class _Registration:
    name: str  # table name, or "*" for all subscribed
    record_types: list[str] | None
    handler: Callable[[DataFrame, int], None]
    unwatched_fields: list[str] | None = None
    unwatched_records: dict[str, str] | None = None
    # the one per-event path, dsl.ex's `functions` (the
    # [{Module, :function}] list dispatched via Task.start per event,
    # ALONGSIDE the do_block): each callable here runs once per Event
    # row on the executors, and `handler` still receives the batch
    # DataFrame
    async_handlers: list[Callable] | None = None


@dataclass
class WalExEngine:
    """Configure subscriptions + handlers, then attach to a batch or
    streaming envelope DataFrame."""

    subscriptions: list[str] | None = None  # None = all tables
    db: str | None = None
    dedup_replay: bool = True
    _registrations: list[_Registration] = field(default_factory=list)

    # -- registration DSL (dsl.ex:30-84) ----------------------------------
    def on_event(self, name: str, handler, **kw) -> "WalExEngine":
        self._registrations.append(_Registration(name, None, handler, **kw))
        return self

    def on_insert(self, name: str, handler, **kw) -> "WalExEngine":
        self._registrations.append(_Registration(name, ["insert"], handler, **kw))
        return self

    def on_update(self, name: str, handler, **kw) -> "WalExEngine":
        self._registrations.append(_Registration(name, ["update"], handler, **kw))
        return self

    def on_delete(self, name: str, handler, **kw) -> "WalExEngine":
        self._registrations.append(_Registration(name, ["delete"], handler, **kw))
        return self

    # -- runtime reconfiguration (config.ex:71-104) ------------------------
    # process_batch reads live engine state, so mutations apply from the
    # NEXT microbatch without restarting the stream — the foreachBatch
    # analog of the reference's Agent-held config. Subscription changes
    # that must affect the SOURCE (publication contents) still need a
    # stream restart, as in the reference.
    def add_subscription(self, table: str) -> "WalExEngine":
        if self.subscriptions is not None and table not in self.subscriptions:
            self.subscriptions.append(table)
        return self

    def remove_subscription(self, table: str) -> "WalExEngine":
        if self.subscriptions is not None and table in self.subscriptions:
            self.subscriptions.remove(table)
        return self

    def remove_handlers(self, name: str) -> "WalExEngine":
        """Drop every registration for a table (remove_config analog)."""
        self._registrations = [r for r in self._registrations if r.name != name]
        return self

    # -- convention-based resolution (config.ex:138-182) -------------------
    def discover(
        self, package: str, subscriptions: list[str] | None = None
    ) -> "WalExEngine":
        """Convention-based handler-module resolution — the reference's
        ``build_module_names/3`` (config.ex:138-182), which maps each
        subscribed snake_case table to the ``MyApp.Events.TableName``
        module and silently keeps only the modules that compile.

        Python spelling of the same convention, tried in order per
        subscribed table:

          1. module  ``<package>.events.<table>``  (snake_case module
             per table — the idiomatic Python layout);
          2. class   ``<package>.events.<TableName>`` (the camelized
             name produced by ``to_module_name``, the reference's
             literal convention).

        A table that resolves to neither is SKIPPED without error —
        exactly ``map_existing_modules/1``'s filter of modules that
        fail ``Code.ensure_compiled``. Inside a resolved module/class,
        attributes named ``on_event`` / ``on_insert`` / ``on_update``
        / ``on_delete`` register for that table with the same
        semantics as the explicit DSL; optional module constants
        ``UNWATCHED_FIELDS`` (list) and ``UNWATCHED_RECORDS`` (dict)
        apply to every handler the module contributes (dsl.ex's
        per-macro options surface).

        ``subscriptions`` defaults to the engine's own subscription
        list; discovery with neither set is an error (the reference
        needs the subscription list for the same reason).
        """
        import importlib

        tables = subscriptions if subscriptions is not None else self.subscriptions
        if tables is None:
            raise ValueError(
                "discover() needs subscriptions — pass them or set them "
                "on the engine (build_module_names/3 takes the same list)"
            )
        registrars = {
            "on_event": self.on_event,
            "on_insert": self.on_insert,
            "on_update": self.on_update,
            "on_delete": self.on_delete,
        }
        for table in tables:
            holder = None
            try:
                holder = importlib.import_module(f"{package}.events.{table}")
            except ImportError:
                try:
                    root = importlib.import_module(f"{package}.events")
                    holder = getattr(root, to_module_name(table), None)
                except ImportError:
                    holder = None
            if holder is None:
                continue  # map_existing_modules: missing module = skip
            kw = {}
            if getattr(holder, "UNWATCHED_FIELDS", None):
                kw["unwatched_fields"] = list(holder.UNWATCHED_FIELDS)
            if getattr(holder, "UNWATCHED_RECORDS", None):
                kw["unwatched_records"] = dict(holder.UNWATCHED_RECORDS)
            for attr, register in registrars.items():
                h = getattr(holder, attr, None)
                if callable(h):
                    register(table, h, **kw)
        return self

    # -- dispatch (event_modules.ex:49-63) --------------------------------
    def process_batch(self, env: DataFrame, epoch_id: int = 0) -> None:
        """Run every registration against one (micro)batch of envelope
        rows. Mirrors the reference's per-commit dispatch loop; the
        filter+cast pipeline is planned once per registration and
        Catalyst prunes shared scans. ``dedup_replay`` dedups within
        this one batch only; no state is kept between calls."""
        if self.dedup_replay:
            env = X.dedup_replay(env)
        self._dispatch(env, epoch_id)

    def _dispatch(self, env: DataFrame, epoch_id: int) -> None:
        for reg in self._registrations:
            events = X.filter_and_cast(
                env,
                table=None if reg.name == "*" else reg.name,
                record_types=reg.record_types,
                subscriptions=self.subscriptions,
                unwatched_records=reg.unwatched_records,
                unwatched_fields=reg.unwatched_fields,
                db=self.db,
            )
            if reg.async_handlers:
                # dsl.ex's `functions` list: every callable fires per
                # event row, executor-side, and the do_block (handler)
                # still receives the batch below — same double dispatch
                # as the reference. Handlers must be serializable +
                # idempotent (batches replay on failure).
                hs = list(reg.async_handlers)

                def fan_out(row, _hs=hs):
                    for h in _hs:
                        h(row)

                events.foreach(fan_out)
            reg.handler(events, epoch_id)

    def attach(
        self,
        env_stream: DataFrame,
        checkpoint: str | None = None,
        trigger_seconds: float | None = None,
    ):
        """Attach to a streaming envelope DataFrame via foreachBatch.

        ``checkpoint`` present = durable slot semantics (resume +
        at-least-once); absent = temporary slot (at-most-once across
        restarts) — README.md:320-346 mapping. ``dedup_replay`` dedups
        the stream across microbatches, replay horizon ``X.REPLAY_HORIZON``
        of ``commit_ts``; a later row is dropped (``numRowsDroppedByWatermark``).
        """
        stream = X.dedup_replay(env_stream) if self.dedup_replay else env_stream
        writer = stream.writeStream.foreachBatch(self._dispatch)
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        if trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()

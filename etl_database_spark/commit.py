"""The one commit protocol for every persisted directory write.

Parquet has no transactions (the reference gets them from PostgreSQL,
dataset_setup.sql:193-216), so every write of a table, a registry table
or a store directory stages its new data in a hidden sibling of the
target, ``<dir>/.<name>.stage-<hex>``, which Spark's file index and
``maintenance.data_dirs`` skip. ``publish`` lists the renames that
install it in a journal, ``<dir>/.<name>.commit``, performs them and
removes the journal — **removing the journal is the commit point** —
and then the stage goes. Any reader or writer that opens a target first
calls ``recover``, which undoes an unfinished journal in reverse order
and removes stale stages, so a write cut off anywhere leaves the target
as it was before the write or as it is after it. A move is undone when
its ``dst`` exists and its ``src`` does not, so undoing is idempotent
and a kill during recovery is recovered by the next open. A publish
that raises rolls back in process, so the target stays serveable.

Crash model: a process kill; durability across power loss (``fsync``)
is out of scope. A target has a single writer, and no write to it is in
flight in another process when it is opened.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from collections.abc import Iterator
from contextlib import contextmanager


def write_json(path: str, value) -> None:
    """``value`` as JSON at ``path``, whole or not at all: written to a
    hidden temp file beside it, then ``os.replace``d over it."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.tmp")
    with open(tmp, "w") as fh:
        json.dump(value, fh)
    os.replace(tmp, path)


def _hidden(target: str, suffix: str) -> str:
    head, name = os.path.split(os.path.normpath(target))
    return os.path.join(head, f".{name}.{suffix}")


@contextmanager
def staged(target: str) -> Iterator[str]:
    """A fresh stage path (not yet created) for a write of ``target``,
    removed on exit whether the write was published or not."""
    path = _hidden(target, f"stage-{uuid.uuid4().hex[:8]}")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


@contextmanager
def replacing(target: str) -> Iterator[str]:
    """Yield a path for the new content of the directory ``target``; a
    normal exit publishes it in place of the old content as
    ``[(target, S/old), (S/new, target)]``."""
    with staged(target) as stage:
        new = os.path.join(stage, "new")
        yield new
        old = [(target, os.path.join(stage, "old"))] if os.path.exists(target) else []
        publish(target, old + [(new, target)])


def publish(target: str, moves: list[tuple[str, str]]) -> None:
    """Journal the ``(src, dst)`` renames, perform them (creating any
    missing ``dst`` parent) and commit by removing the journal. On an
    exception they are rolled back and it re-raises."""
    journal = _hidden(target, "commit")
    head = os.path.dirname(journal)
    write_json(journal, [[os.path.relpath(p, head) for p in move] for move in moves])
    try:
        for src, dst in moves:
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)
        os.remove(journal)
    except BaseException:
        _rollback(moves)
        os.remove(journal)
        raise


def _rollback(moves) -> None:
    for src, dst in reversed(moves):
        if os.path.lexists(dst) and not os.path.lexists(src):
            os.rename(dst, src)


def recover(target: str) -> None:
    """Undo an unfinished write of ``target`` and remove its stages and
    temp files. Call before reading or writing ``target``."""
    head, name = os.path.split(os.path.normpath(target))
    if not os.path.isdir(head):
        return
    # the stages, the journal and its temp file (``..<name>.commit.tmp``);
    # sorted, the journal comes before the stages it may move data out of
    leftover = re.compile(r"\.?" + re.escape(f".{name}.") + r"(stage-[0-9a-f]+|commit(\.tmp)?)")
    for entry in sorted(e for e in os.listdir(head) if leftover.fullmatch(e)):
        path = os.path.join(head, entry)
        if entry == f".{name}.commit":
            with open(path) as fh:
                _rollback([[os.path.join(head, p) for p in move] for move in json.load(fh)])
            os.remove(path)
        elif os.path.isdir(path):
            shutil.rmtree(path)
        else:
            os.remove(path)

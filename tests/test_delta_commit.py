"""Delta commits are put-if-absent: a commit file appears whole or not at
all, and a writer that loses the race for a version never overwrites the
winner's commit."""

from __future__ import annotations

import json
import os
import types

import pytest

from incubator_gluten_spark.sources import delta_protocol as dp


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "commit")
    dp.create_table(spark.range(3).coalesce(1), root)
    return root


def _log(root):
    return sorted(os.listdir(os.path.join(root, "_delta_log")))


def test_failed_serialisation_leaves_no_commit(table, spark):
    before, log = dp.current_version(table), _log(table)
    actions = [
        {"commitInfo": {"operation": "TEST"}},
        {"commitInfo": {"unserialisable": object()}},
    ]
    with pytest.raises(TypeError):
        dp._write_actions(table, before + 1, actions)
    assert not os.path.exists(dp._commit_path(table, before + 1))
    assert dp.current_version(table) == before
    assert _log(table) == log  # no torn commit, no staging file left
    dp.append(spark.range(3, 5).coalesce(1), table)  # the retry commits
    assert dp.current_version(table) == before + 1
    assert dp.read_table(spark, table).count() == 5


def test_losing_writer_never_overwrites_the_winner(table, monkeypatch):
    v = dp.current_version(table) + 1
    winner = [{"commitInfo": {"operation": "WINNER"}}]
    raced = []

    def dumps(obj):
        # another writer commits version v while this one serialises
        if not raced:
            raced.append(True)
            dp._write_actions(table, v, winner)
        return json.dumps(obj)

    monkeypatch.setattr(
        dp, "json", types.SimpleNamespace(dumps=dumps, loads=json.loads)
    )
    with pytest.raises(FileExistsError, match="conflict"):
        dp._write_actions(table, v, [{"commitInfo": {"operation": "LOSER"}}])
    monkeypatch.undo()
    assert dp._read_commit_actions(table, v) == winner
    assert not [n for n in _log(table) if n.endswith(".tmp")]

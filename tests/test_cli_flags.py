"""CLI flag scoping, checked in-process before any Spark session starts.

``cli.MODES`` states which flags each firing mode takes. These pins
call ``main()`` with ``session.get_spark`` replaced by a sentinel, so a
valid firing stops where the JVM would start and a misconfigured one
must exit 2 without ever reaching it. No JVM starts: the module runs
in seconds and stays in the fast tier.
"""

from __future__ import annotations

import json

import pytest

from etl_pack_spark import cli, session


class ReachedSpark(Exception):
    """Raised where ``main()`` would start a Spark session."""


@pytest.fixture(autouse=True)
def no_spark(monkeypatch):
    def sentinel(*_args, **_kwargs):
        raise ReachedSpark

    monkeypatch.setattr(session, "get_spark", sentinel)


def run(argv: list[str]):
    """``main(argv)``'s exit code, or ``"spark"`` if it got as far as
    starting a session."""
    try:
        return cli.main(argv)
    except ReachedSpark:
        return "spark"


# one minimal valid firing per mode, written out independently of MODES
MINIMAL = {
    "batch transfer": ["--source-dir", "/s", "--table", "t",
                       "--target", "/o"],
    "--streaming": ["--streaming", "--source-dir", "/s", "--table", "t",
                    "--target", "/o", "--checkpoint", "/c"],
    "--compact": ["--compact", "/s", "--target", "/o"],
    "--compact-partitions": ["--compact-partitions", "/r"],
    "--compact-sigstore": ["--compact-sigstore", "/x"],
    "--compact-codes": ["--compact-codes", "/x"],
    "--update-clusters": ["--update-clusters", "/x", "--matches", "/m"],
    "--store-stats": ["--store-stats", "/x"],
    "--funnel": ["--funnel", "/x"],
    "--funnel-gates curate": ["--funnel", "/x", "--funnel-gates", "curate"],
    "--funnel-gates pretrain": ["--funnel", "/x",
                                "--funnel-gates", "pretrain"],
    "--drift --drift-batch": ["--drift", "/b", "--drift-batch", "/x"],
    "--drift --drift-save-baseline": ["--drift", "/b",
                                      "--drift-save-baseline", "/h"],
    "--drift --drift-stream": ["--drift", "/b", "--drift-stream", "/s",
                               "--checkpoint", "/c", "--report-out", "/r"],
    "--report-trend": ["--report-trend", "/x"],
    "--register-eval": ["--register-eval", "/x", "--eval-store", "/e",
                        "--eval-set", "n"],
    "--datacard": ["--datacard", "/x"],
    "--decontaminate-check": ["--decontaminate-check", "/x",
                              "--eval-store", "/e"],
}

# one flag per mode that the mode does not take; before MODES, every
# one of these but --compact's and --compact-partitions' was silently
# ignored and the firing went on to start Spark
FOREIGN = {
    "batch transfer": ["--target-file-mb", "9"],
    "--streaming": ["--fields", "a"],
    "--compact": ["--increment"],
    "--compact-partitions": ["--target", "/o"],
    "--compact-sigstore": ["--text-col", "t"],
    "--compact-codes": ["--id-col", "a"],
    "--update-clusters": ["--text-col", "t"],
    "--store-stats": ["--zorder-by", "a"],
    "--funnel": ["--fields", "a"],
    "--funnel-gates curate": ["--window", "c:a:b"],
    "--funnel-gates pretrain": ["--order", "a"],
    "--drift --drift-batch": ["--partition-by", "a"],
    "--drift --drift-save-baseline": ["--increment"],
    "--drift --drift-stream": ["--table", "t"],
    "--report-trend": ["--id-col", "a"],
    "--register-eval": ["--id-col", "a"],
    "--datacard": ["--fields", "a"],
    "--decontaminate-check": ["--min-words", "5"],
}

# flags whose extra presence is a different error than "does not apply"
NOT_FOREIGN = {"compact", "compact_partitions", "compact_sigstore",
               "compact_codes", "update_clusters", "store_stats", "funnel",
               "drift", "report_trend", "register_eval", "datacard",
               "decontaminate_check", "streaming", "drift_batch",
               "drift_save_baseline", "drift_stream"}


def _flag_argv(dest: str, tmp_path) -> list[str]:
    """The flag for ``dest`` with a value that differs from its
    default."""
    action = next(a for a in cli.build_parser()._actions if a.dest == dest)
    opt = action.option_strings[0]
    if action.nargs == 0:
        return [opt]
    if dest == "drift_config":
        cfg = tmp_path / "drift.json"
        cfg.write_text(json.dumps({"edges": {"n_tokens": [10, 99]}}))
        return [opt, str(cfg)]
    if action.choices:
        return [opt, action.choices[0]]
    if action.type is cli.parse_window:
        return [opt, "c:a:b"]
    if action.type in (int, float):
        return [opt, "7"]
    return [opt, "v"]


def test_every_mode_is_pinned():
    assert set(MINIMAL) == set(cli.MODES) == set(FOREIGN)


@pytest.mark.parametrize("mode", MINIMAL)
def test_minimal_firing_reaches_spark(mode):
    assert run(MINIMAL[mode]) == "spark"


@pytest.mark.parametrize("mode", FOREIGN)
def test_foreign_flag_exits_before_spark(mode, capsys):
    assert run(MINIMAL[mode] + FOREIGN[mode]) == 2
    err = capsys.readouterr().err
    assert FOREIGN[mode][0] in err and "do not apply to" in err


@pytest.mark.parametrize("mode", MINIMAL)
def test_every_flag_outside_the_mode_exits_2(mode, capsys, tmp_path):
    required, optional = cli.MODES[mode]
    parser = cli.build_parser()
    foreign = [a.dest for a in parser._actions
               if a.dest != "help" and a.dest not in NOT_FOREIGN
               and a.dest not in required + optional]
    assert foreign
    for dest in foreign:
        flag = _flag_argv(dest, tmp_path)
        assert run(MINIMAL[mode] + flag) == 2, flag
        assert f"{flag[0]} do not apply to {mode}" in capsys.readouterr().err


@pytest.mark.parametrize("mode", MINIMAL)
def test_every_optional_flag_is_accepted(mode, tmp_path):
    _, optional = cli.MODES[mode]
    for dest in optional:
        flag = _flag_argv(dest, tmp_path)
        assert run(MINIMAL[mode] + flag) == "spark", flag


def test_streaming_requires_checkpoint(capsys):
    argv = [a for a in MINIMAL["--streaming"] if a not in ("--checkpoint",
                                                           "/c")]
    assert run(argv) == 2
    assert "--streaming requires --checkpoint" in capsys.readouterr().err


def test_mode_flags_are_exclusive(capsys):
    assert run(["--funnel", "/x", "--store-stats", "/y"]) == 2
    assert "exclusive" in capsys.readouterr().err
    assert run([*MINIMAL["--compact-sigstore"], "--streaming"]) == 2
    assert "exclusive" in capsys.readouterr().err

"""Session-conf contracts (round 11): the shuffle codec is an env
knob with the small-data default — lz4 keeps KB-to-MB local shuffles
cheap; PYDIN_SHUFFLE_CODEC=zstd is the documented production value for
GB-per-stage shuffles (halved bytes, measured at the 100x replica)."""

import importlib

import pytest

import pydin_spark.session as session_mod


def test_shuffle_codec_defaults_to_lz4():
    assert session_mod.ENGINE_CONF[
        "spark.io.compression.codec"] == "lz4"


def test_shuffle_codec_env_override(monkeypatch):
    monkeypatch.setenv("PYDIN_SHUFFLE_CODEC", "zstd")
    try:
        reloaded = importlib.reload(session_mod)
        assert reloaded.ENGINE_CONF[
            "spark.io.compression.codec"] == "zstd"
    finally:
        monkeypatch.delenv("PYDIN_SHUFFLE_CODEC")
        importlib.reload(session_mod)


def test_bad_shuffle_codec_fails_fast_naming_the_env_var(monkeypatch):
    monkeypatch.setenv("PYDIN_SHUFFLE_CODEC", "ztsd")
    with pytest.raises(ValueError, match="PYDIN_SHUFFLE_CODEC"):
        session_mod.get_session("bad-codec", master="local[1]")

"""Public surface: every name ``plc`` advertises resolves, the deleted
second writers stay gone, and the CLI offers one encode path."""

import pytest

import plc


def test_every_advertised_name_resolves():
    for name in plc.__all__:
        assert getattr(plc, name) is not None, name


@pytest.mark.parametrize("module, name", [("pipeline", "encode_direct"),
                                          ("streaming", "encode_stream")])
def test_deleted_writers_are_not_exported(module, name):
    import importlib

    assert name not in plc.__all__
    with pytest.raises(AttributeError):
        getattr(plc, name)
    assert not hasattr(importlib.import_module(f"plc.{module}"), name)


def test_cli_encode_rejects_direct_flag(capsys):
    from plc import cli

    with pytest.raises(SystemExit) as exc:
        cli.main(["encode", "--src", "in", "--dst", "out", "--direct"])
    assert exc.value.code == 2
    assert "--direct" in capsys.readouterr().err

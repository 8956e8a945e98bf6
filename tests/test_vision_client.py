"""AnthropicVisionBackend (core/vision_client.py): request shape,
retry/backoff, and reference skip semantics (table_extraction.py:46-133,
196-198) — all against an injected fake transport; no network."""

from __future__ import annotations

import base64
import json

import pytest

from pdf_to_xls_vision_spark.core.vision_client import (
    API_VERSION,
    MAX_TOKENS,
    VISION_PROMPT,
    AnthropicVisionBackend,
    get_api_key,
    get_model_name,
)


def _loader(ref: str) -> tuple[bytes, str]:
    return f"PNGBYTES:{ref}".encode(), "image/png"


def _ok_body(text: str) -> bytes:
    return json.dumps(
        {"content": [{"type": "text", "text": text}], "role": "assistant"}
    ).encode()


def _backend(transport, **kw):
    sleeps = []
    b = AnthropicVisionBackend(
        _loader,
        api_key="k-test",
        model="m-test",
        transport=transport,
        sleep=sleeps.append,
        **kw,
    )
    return b, sleeps


def test_request_shape_matches_reference():
    seen = {}

    def transport(url, headers, body):
        seen["url"], seen["headers"], seen["body"] = url, headers, json.loads(body)
        return 200, _ok_body("Row_Type,Category,2020\nDETAIL,Rent,100")

    b, _ = _backend(transport)
    out = b.infer_batch(["pg1"])
    assert out == ["Row_Type,Category,2020\nDETAIL,Rent,100"]
    assert seen["url"].endswith("/v1/messages")
    assert seen["headers"]["x-api-key"] == "k-test"
    assert seen["headers"]["anthropic-version"] == API_VERSION
    body = seen["body"]
    assert body["model"] == "m-test"
    assert body["max_tokens"] == MAX_TOKENS  # table_extraction.py:48
    (msg,) = body["messages"]
    img, txt = msg["content"]
    assert img["source"]["media_type"] == "image/png"
    assert base64.standard_b64decode(img["source"]["data"]) == b"PNGBYTES:pg1"
    assert txt["text"] == VISION_PROMPT
    assert "Row_Type" in VISION_PROMPT and "ROLLUP" in VISION_PROMPT


def test_retries_429_and_5xx_with_backoff_then_succeeds():
    calls = []

    def transport(url, headers, body):
        calls.append(1)
        status = [429, 503, 200][len(calls) - 1]
        return status, _ok_body("csv") if status == 200 else b"{}"

    b, sleeps = _backend(transport, max_retries=3, backoff_base=1.0)
    assert b.infer_batch(["r"]) == ["csv"]
    assert len(calls) == 3
    assert sleeps == [1.0, 2.0]  # exponential


def test_exhausted_retries_skip_page_not_document():
    def transport(url, headers, body):
        return 500, b"{}"

    b, sleeps = _backend(transport, max_retries=2)
    # page 2 fails after retries -> None; pages 1 and 3 still extracted
    def transport2(url, headers, body):
        req = json.loads(body)
        data = base64.standard_b64decode(
            req["messages"][0]["content"][0]["source"]["data"]
        ).decode()
        if data.endswith("bad"):
            return 500, b"{}"
        return 200, _ok_body(f"csv:{data[-1]}")

    b2, _ = _backend(transport2, max_retries=1)
    assert b2.infer_batch(["p1", "bad", "p3"]) == ["csv:1", None, "csv:3"]
    assert b.infer_batch(["only"]) == [None]
    assert len(sleeps) == 2


def test_auth_and_client_errors_fail_fast():
    calls = []

    def transport(url, headers, body):
        calls.append(1)
        return 401, b'{"type":"error"}'

    b, sleeps = _backend(transport, max_retries=5)
    assert b.infer_batch(["r"]) == [None]
    assert len(calls) == 1 and sleeps == []  # no retry on 4xx


def test_transport_faults_are_retryable():
    calls = []

    def transport(url, headers, body):
        calls.append(1)
        if len(calls) < 2:
            raise OSError("connection reset")
        return 200, _ok_body("csv")

    b, _ = _backend(transport, max_retries=2)
    assert b.infer_batch(["r"]) == ["csv"]


def test_media_loader_fault_skips_page_only():
    def loader(ref):
        if ref == "boom":
            raise RuntimeError("decode failed")
        return _loader(ref)

    b = AnthropicVisionBackend(
        loader,
        api_key="k",
        model="m",
        transport=lambda u, h, body: (200, _ok_body("csv")),
        sleep=lambda s: None,
    )
    assert b.infer_batch(["a", "boom", "c"]) == ["csv", None, "csv"]


def test_malformed_response_yields_none():
    b, _ = _backend(lambda u, h, body: (200, b"not json"))
    assert b.infer_batch(["r"]) == [None]
    b2, _ = _backend(lambda u, h, body: (200, json.dumps({"content": []}).encode()))
    assert b2.infer_batch(["r"]) == [None]


def test_config_parity_with_reference(monkeypatch):
    # config.py:10-27 — missing or placeholder key is a hard error
    assert get_api_key({"ANTHROPIC_API_KEY": "sk-real"}) == "sk-real"
    with pytest.raises(ValueError):
        get_api_key({})
    with pytest.raises(ValueError):
        get_api_key({"ANTHROPIC_API_KEY": "your-api-key-here"})
    # config.py:30-36 — model default
    assert get_model_name({}) == "claude-sonnet-4-5-20250929"
    assert get_model_name({"CLAUDE_MODEL": "x"}) == "x"


def test_cli_backend_wiring(tmp_path, monkeypatch):
    from pdf_to_xls_vision_spark.cli import _vision_backend, build_parser

    # stub default -> None (pipeline uses the deterministic stub)
    args = build_parser().parse_args(["in", "-o", "out"])
    assert _vision_backend(args) is None

    # anthropic without --media-dir -> fail fast
    args = build_parser().parse_args(
        ["in", "-o", "out", "--vision-backend", "anthropic"]
    )
    with pytest.raises(SystemExit):
        _vision_backend(args)

    # anthropic + media dir + key -> live backend with a working loader
    monkeypatch.setenv("ANTHROPIC_API_KEY", "sk-test")
    (tmp_path / "pg1.png").write_bytes(b"RASTER")
    args = build_parser().parse_args(
        ["in", "-o", "out", "--vision-backend", "anthropic",
         "--media-dir", str(tmp_path)]
    )
    backend = _vision_backend(args)
    assert backend._media_loader("pg1.png") == (b"RASTER", "image/png")

    # missing key -> the reference's hard error (config.py:10-27)
    monkeypatch.delenv("ANTHROPIC_API_KEY")
    with pytest.raises(ValueError):
        _vision_backend(args)


def test_cli_loader_confined_to_media_dir(tmp_path, monkeypatch):
    """media refs come from the input table: an absolute or ../ ref
    must not read a file outside --media-dir, and infer_batch must not
    send one to the API (the loader fault skips that page only)."""
    from pdf_to_xls_vision_spark.cli import _vision_backend, build_parser

    monkeypatch.setenv("ANTHROPIC_API_KEY", "sk-test")
    media = tmp_path / "media"
    media.mkdir()
    (media / "pg1.png").write_bytes(b"RASTER")
    secret = tmp_path / "secret.png"
    secret.write_bytes(b"SECRET")
    args = build_parser().parse_args(
        ["in", "-o", "out", "--vision-backend", "anthropic",
         "--media-dir", str(media)]
    )
    backend = _vision_backend(args)
    escapes = [str(secret), "../secret.png"]
    for ref in escapes:
        with pytest.raises(ValueError, match="outside --media-dir"):
            backend._media_loader(ref)

    sent = []

    def transport(url, headers, body):
        sent.append(json.loads(body))
        return 200, _ok_body("csv")

    backend._transport = transport
    backend._sleep = lambda s: None
    assert backend.infer_batch([*escapes, "pg1.png"]) == [None, None, "csv"]
    (body,) = sent
    img = body["messages"][0]["content"][0]
    assert base64.standard_b64decode(img["source"]["data"]) == b"RASTER"


def test_misconfigured_loader_fails_loudly():
    def loader(ref):
        raise NotImplementedError("no media codec in this environment")

    b = AnthropicVisionBackend(
        loader, api_key="k", model="m",
        transport=lambda u, h, body: (200, _ok_body("csv")),
        sleep=lambda s: None,
    )
    with pytest.raises(NotImplementedError):
        b.infer_batch(["pg"])

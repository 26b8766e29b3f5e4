"""Unit tests for the pure text kernels (E1/E2 + training-data ops)."""

from __future__ import annotations

from harvester_fgp_spark.functions import text as T


def test_extract_text_basic():
    html = b"<html><head><title>Hello</title><style>x{}</style></head><body><p>World  now</p><script>var a=1;</script></body></html>"
    assert T.extract_text(html) == "Hello World now"


def test_extract_text_entities_and_unicode():
    html = "<p>café &amp; crème</p>".encode()
    assert T.extract_text(html) == "café & crème"
    # decomposed input (e + combining acute) comes out NFC-composed
    assert T.extract_text("<p>Montre\u0301al</p>".encode()) == "Montr\u00e9al"


def test_extract_text_none_and_bad_bytes():
    assert T.extract_text(None) is None
    assert T.extract_text(b"\xff\xfe<p>x</p>") is not None


def test_extract_text_deterministic():
    from harvester_fgp_spark.synth import generate_pages

    pdf = generate_pages(200, seed=42)
    out1 = [T.extract_text(h) for h in pdf["html"]]
    out2 = [T.extract_text(bytes(h)) for h in pdf["html"]]
    assert all(
        a.encode("utf-8") == b.encode("utf-8") for a, b in zip(out1, out2)
    )
    # synth html wraps title+text, so extraction reproduces the text column
    assert all(o == t for o, t in zip(out1, pdf["text"]))


def test_mine_payloads_point_and_bbox():
    got = T.mine_payloads(
        "station at 45.4215, -75.6972 area west: -80.00 east: -70.00 "
        "south: 40.00 north: 50.00 end"
    )
    kinds = sorted(p["kind"] for p in got)
    assert kinds == ["bbox", "point"]
    pt = next(p for p in got if p["kind"] == "point")
    assert pt["lat"] == 45.4215 and pt["lon"] == -75.6972
    bb = next(p for p in got if p["kind"] == "bbox")
    assert (bb["west"], bb["south"], bb["east"], bb["north"]) == (
        -80.0, 40.0, -70.0, 50.0,
    )


def test_mine_payloads_rejects_out_of_range():
    assert T.mine_payloads("999.0, 999.0") == []
    assert (
        T.mine_payloads("west: 10 east: -10 south: 5 north: 0") == []
    )  # south > north is degenerate — dropped


def test_mine_payloads_accepts_antimeridian_bbox():
    """west > east is a LEGAL dateline-crossing bbox (ISO 19115) — a
    Fiji/Alaska page must yield a payload (round-3 fix: it was silently
    dropped by every miner variant)."""
    got = T.mine_payloads("west: 177.0 east: -178.0 south: -20.0 north: -15.0")
    assert [p["kind"] for p in got] == ["bbox"]
    assert got[0]["west"] == 177.0 and got[0]["east"] == -178.0


def test_mine_payloads_bbox_numbers_not_remined_as_points():
    got = T.mine_payloads("west: -80.50 east: -70.25 south: 40.75 north: 50.10")
    assert [p["kind"] for p in got] == ["bbox"]


def test_detect_lang():
    assert T.detect_lang("the map of the lake and the river is in the north") == "en"
    assert T.detect_lang("la carte de la rivière et du lac est dans le nord") == "fr"
    assert T.detect_lang("zzz qqq xxx") == "und"
    assert T.detect_lang(None) == "und"


def test_quality_and_tokens():
    good = "The quick brown fox jumps over the lazy dog near the river bank. " * 20
    assert T.quality_score(good) > 0.7
    assert T.quality_score("!!!???###") < 0.3
    assert T.token_count("hello, world 42") == 4  # hello , world 42
    assert T.token_count(None) == 0


def test_fingerprint_stable():
    assert T.fingerprint64("abc") == T.fingerprint64("abc")
    assert T.fingerprint64("abc") != T.fingerprint64("abd")
    assert 0 <= T.fingerprint64("abc") < 1 << 63


def test_shingles():
    s1 = T.shingles("a b c d e f g", k=5)
    s2 = T.shingles("a b c d e f g", k=5)
    assert s1 == s2 and len(s1) == 3


def _flat_miner_rows(texts):
    """Run mine_payloads_flat and rebuild per-row payload lists from its
    flat arrays, checking the per-row ordinal contract on the way."""
    import numpy as np

    rows, pidx, kind, lat, lon, w, s, e, n = T.mine_payloads_flat(texts)
    got: dict[int, list] = {}

    def _v(x):
        return None if np.isnan(x) else float(x)

    for i in range(len(rows)):
        got.setdefault(int(rows[i]), []).append(
            {"kind": str(kind[i]), "lat": _v(lat[i]), "lon": _v(lon[i]),
             "west": _v(w[i]), "south": _v(s[i]), "east": _v(e[i]),
             "north": _v(n[i])}
        )
        assert pidx[i] == len(got[int(rows[i])]) - 1  # ordinal contract
    return got


def test_flat_miner_equals_scalar():
    """mine_payloads_flat (the fused-stage hot path) == scalar oracle on
    synth pages and hand-picked edge cases."""
    import pandas as pd

    from harvester_fgp_spark.synth import generate_pages

    cases = [
        None, "", "no geo here", "45.5, -75.5",
        "west: 1 east: 2 south: 3 north: 4, 5.5",
        "west: 10 east: -10 south: 0 north: 5",
        "91.0, 10.0 45.0, 181.0",
        "west: -80.5 east: -70.2 south: 40.1 north: 50.9 then 49.1, -100.2",
        "1.5, 2.5 3.5, 4.5 5.5, 6.5",
        "WEST: -1.5 EAST: 0.5 SOUTH: -2.25 NORTH: 2.5",  # case-insensitive
    ]
    texts = pd.Series(list(generate_pages(2000, seed=42)["text"]) + cases)
    got = _flat_miner_rows(texts)
    for r, text in enumerate(texts):
        assert got.get(r, []) == T.mine_payloads(text), f"row {r}: {text!r}"


def test_batch_miner_property_random_text():
    """The shipped flat miner == scalar oracle on random fragment soup:
    bbox keywords, separators and numbers in and out of range, in
    arbitrary order."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(99)
    frags = ["west:", "east:", "south:", "north:", ",", " ", "-", ".",
             "12", "45.5", "-75.25", "90", "180.0", "x", "99.9", "0"]
    texts = [
        "".join(rng.choice(frags, size=rng.integers(0, 30)))
        for _ in range(500)
    ]
    got = _flat_miner_rows(pd.Series(texts))
    for r, text in enumerate(texts):
        assert got.get(r, []) == T.mine_payloads(text), repr(text)

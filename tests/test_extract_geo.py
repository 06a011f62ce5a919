"""The GEO-line extractor (pyarrow.compute, RE2) against Python's ``re``
reading of the same grammar, on the edge cases of page text."""

import re
from itertools import chain

import numpy as np
import pandas as pd
import pyarrow as pa

from st_mapmatching_spark.operators.candidates import extract_arrays
from st_mapmatching_spark.sources.extract import extract_points, url_codes

PY_GEO_LINE = re.compile(r"^GEO (\d+) (-?\d+\.\d+) (-?\d+\.\d+) (\d+)$",
                         re.MULTILINE)

TEXTS = {
    "crlf": "GEO 0 116.3 39.9 1\r\nGEO 1 116.4 39.8 2\r\n",
    "blank_and_malformed": ("\n\nGEO 0 116.3 39.9 1\nGEO x 1.0 2.0 3\n"
                            "GEO 1 116 39.9 2\n GEO 2 1.0 2.0 3\n"
                            "GEO 3 1.0 2.0 3 \nGEO 4 1.5 2.5 4\n\n"),
    "null": None,
    "empty": "",
    "no_trailing_newline": "text first\nGEO 1 1.25 2.5 10\nGEO 0 1.0 2.0 9",
    "negative": "GEO 0 -74.0060000 -40.7128000 1700000000\nGEO 1 -0.0 -1.5 2",
    "out_of_order": "GEO 2 1.0 1.0 1\nGEO 0 2.0 2.0 2\nGEO 1 3.0 3.0 3",
    "repeated_index": "GEO 1 1.0 1.0 1\nGEO 1 2.0 2.0 2\nGEO 0 3.0 3.0 3",
    "long_digits": "GEO 000123 12.3456789012345678 -0.000000001 0042",
    "non_ascii_digits": "GEO ٣ 1.0 2.0 3\nGEO 0 ١.5 2.0 3",
    "embedded": "<p>GEO 0 1.0 2.0 3</p>\nGEO 5 1.0 2.0 3\n",
}


def _py_extract(pages: pd.DataFrame) -> pd.DataFrame:
    """Python's re.findall reading, one page at a time, sorted (url,
    pid_raw) as the engine sorts."""
    found = [PY_GEO_LINE.findall(t) if isinstance(t, str) else []
             for t in pages.text]
    n = [len(f) for f in found]
    fields = np.array(list(chain.from_iterable(found)),
                      dtype=object).reshape(-1, 4)
    pts = pd.DataFrame({"url": np.repeat(pages.url.to_numpy(), n),
                        "pid_raw": fields[:, 0].astype(np.int64),
                        "x": fields[:, 1].astype(np.float64),
                        "y": fields[:, 2].astype(np.float64),
                        "t_epoch": fields[:, 3].astype(np.int64)})
    return pts.sort_values(["url", "pid_raw"]).reset_index(drop=True)


def _pages(names) -> pd.DataFrame:
    return pd.DataFrame({"url": list(names),
                         "text": [TEXTS[k] for k in names]})


def _assert_bitwise(got: pd.DataFrame, want: pd.DataFrame):
    assert list(got.columns) == list(want.columns)
    assert got.url.tolist() == want.url.tolist()
    for c in ("pid_raw", "t_epoch"):
        assert got[c].dtype == np.int64
        assert np.array_equal(got[c], want[c]), c
    for c in ("x", "y"):
        assert np.array_equal(got[c].to_numpy().view(np.int64),
                              want[c].to_numpy().view(np.int64)), c


def test_ascii_cases_equal_python_re():
    """Every case but the non-ASCII digits, one page each and all in one
    batch (url order differs from page order): the same points, bitwise,
    in the same order."""
    names = sorted(set(TEXTS) - {"non_ascii_digits"}, reverse=True)
    _assert_bitwise(extract_points(_pages(names)),
                    _py_extract(_pages(names)))
    for k in names:
        _assert_bitwise(extract_points(_pages([k])), _py_extract(_pages([k])))


def test_edge_case_readings():
    """What the grammar keeps: a CRLF line keeps its \\r and never
    matches; blank, malformed, indented and trailing-space lines drop;
    the last line needs no newline; signs and -0.0 survive."""
    got = extract_points(_pages(list(TEXTS))).groupby("url")
    assert "crlf" not in got.groups and "null" not in got.groups
    assert got.get_group("blank_and_malformed").pid_raw.tolist() == [0, 4]
    assert got.get_group("no_trailing_newline").pid_raw.tolist() == [0, 1]
    neg = got.get_group("negative")
    assert neg.x.tolist() == [-74.006, -0.0] and neg.y.tolist()[1] == -1.5
    assert np.signbit(neg.x.to_numpy()[1])
    assert got.get_group("long_digits").pid_raw.tolist() == [123]
    assert got.get_group("embedded").pid_raw.tolist() == [5]
    # a repeated GEO index keeps its text order
    assert got.get_group("repeated_index").x.tolist() == [3.0, 1.0, 2.0]


def test_non_ascii_digits_are_not_digits():
    """RE2's \\d is ASCII (as DuckDB's regexp_extract): a line with
    Arabic-Indic digits carries no point. Python's \\d would read both
    lines of the case."""
    assert len(_py_extract(_pages(["non_ascii_digits"]))) == 2
    assert len(extract_points(_pages(["non_ascii_digits"]))) == 0


def test_random_lines_equal_python_re():
    """Seeded pages of valid and one-character-mutated GEO lines."""
    rng = np.random.default_rng(7)
    alphabet = list("GEO 0123456789.-x\r\t")
    urls, texts = [], []
    for p in range(200):
        lines = []
        for i in range(int(rng.integers(0, 12))):
            line = (f"GEO {rng.integers(0, 50)} {rng.normal(0, 90):.6f} "
                    f"{rng.normal(0, 45):.6f} {rng.integers(0, 2**40)}")
            if rng.random() < 0.3:
                at = int(rng.integers(0, len(line)))
                line = line[:at] + str(rng.choice(alphabet)) + line[at + 1:]
            lines.append(line)
        urls.append(f"u{int(rng.integers(0, 150)):03d}")    # repeated urls
        texts.append(None if rng.random() < 0.05 else "\n".join(lines))
    pages = pd.DataFrame({"url": urls, "text": texts})
    _assert_bitwise(extract_points(pages), _py_extract(pages))


def test_extract_arrays_urls_are_codes(pages, cfg):
    """extract_arrays' points carry url codes that sort as the urls and
    map back to them through url_codes' pages."""
    url = pa.array(pages.url.tolist(), pa.string())
    code, page = url_codes(url)
    u, pid, x, y = extract_arrays(code, pa.array(pages.text.tolist(),
                                                 pa.string()),
                                  cfg.lon0, cfg.lat0, cfg.tolerance,
                                  cfg.simplify)
    assert u.dtype == np.int64 and (np.diff(u) >= 0).all()
    urls = pages.url.to_numpy()[page[u]]
    assert set(urls) == set(extract_points(pages).url)
    assert list(pd.unique(urls)) == sorted(set(urls))

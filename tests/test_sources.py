"""HTTP source (conditional re-read) + Excel extract + frame-op vocabulary.

The HTTP tests run against an in-process counting http.server — hermetic,
mirroring the reference's local-server strategy
(/root/reference/tests/conftest.py:15-55) but with request counters so
"unchanged etag ⇒ no re-read" is asserted directly, not inferred.
"""

from __future__ import annotations

import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from investigraph_etl_spark.config import (
    PipelineConfig,
    apply_frame_ops,
    build_pipeline,
    deep_merge,
    read_source,
)
from investigraph_etl_spark.sources.excel import parse_xlsx, read_excel_df
from investigraph_etl_spark.sources.http import fetch

EC_MEETINGS_XLSX = "/root/reference/tests/fixtures/ec-meetings.xlsx"
EC_GOLDEN_ROWS = 12482  # /root/reference/tests/test_extract.py:38
#: the golden tests run wherever the reference checkout is present; the
#: generated-workbook tests below cover the same decoder paths everywhere
needs_ec_fixture = pytest.mark.skipif(
    not os.path.exists(EC_MEETINGS_XLSX),
    reason="reference ec-meetings.xlsx fixture not present",
)


# ---------------------------------------------------------------- http fetch


class _CountingHandler(BaseHTTPRequestHandler):
    """Serves a mutable payload with an ETag; counts HEAD/GET per path."""

    store: dict[str, tuple[bytes, str]] = {}
    counts: dict[str, int] = {}

    def _respond(self, send_body: bool) -> None:
        body, etag = self.store[self.path]
        self.send_response(200)
        self.send_header("ETag", etag)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        if send_body:
            self.wfile.write(body)

    def do_HEAD(self):
        self.counts["HEAD"] = self.counts.get("HEAD", 0) + 1
        self.counts[f"HEAD {self.path}"] = self.counts.get(f"HEAD {self.path}", 0) + 1
        self._respond(False)

    def do_GET(self):
        self.counts["GET"] = self.counts.get("GET", 0) + 1
        self.counts[f"GET {self.path}"] = self.counts.get(f"GET {self.path}", 0) + 1
        self._respond(True)

    def log_message(self, *a):  # silence
        pass


@pytest.fixture()
def http_server():
    _CountingHandler.store = {}
    _CountingHandler.counts = {}
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _CountingHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()


def test_fetch_conditional_reread(http_server, tmp_path):
    port = http_server.server_address[1]
    url = f"http://127.0.0.1:{port}/data.csv"
    _CountingHandler.store["/data.csv"] = (b"a,b\n1,2\n", 'W/"v1"')
    cache = str(tmp_path / "cache")

    r1 = fetch(url, cache_dir=cache)
    assert r1.fetched and os.path.exists(r1.path)
    assert _CountingHandler.counts.get("GET") == 1

    # unchanged etag => HEAD only, no GET, same local payload
    r2 = fetch(url, cache_dir=cache)
    assert not r2.fetched
    assert r2.path == r1.path
    assert _CountingHandler.counts.get("GET") == 1
    assert _CountingHandler.counts.get("HEAD") == 2

    # changed etag => re-download under a new cache key
    _CountingHandler.store["/data.csv"] = (b"a,b\n9,9\n", 'W/"v2"')
    r3 = fetch(url, cache_dir=cache)
    assert r3.fetched and r3.path != r1.path
    assert _CountingHandler.counts.get("GET") == 2
    with open(r3.path, "rb") as f:
        assert f.read() == b"a,b\n9,9\n"


def test_fetch_partitioned_parallel_fanout(spark, http_server, tmp_path):
    """Crawl-scale path: a URL table fanned out via mapInPandas — executes on
    ≥2 partitions, payload stays in the DataFrame, conditional re-read holds
    per executor cache (unchanged etags ⇒ zero GETs on the second pass)."""
    from investigraph_etl_spark.sources.http import fetch_partitioned

    port = http_server.server_address[1]
    urls, want = [], {}
    for i in range(8):
        p, body = f"/doc{i}.csv", f"a\n{i}\n".encode()
        _CountingHandler.store[p] = (body, f'W/"v{i}"')
        u = f"http://127.0.0.1:{port}{p}"
        urls.append(u)
        want[u] = body
    cache = str(tmp_path / "cache")

    out = fetch_partitioned(spark, urls, cache_dir=cache, n_partitions=4).collect()
    assert len(out) == 8
    assert all(r["fetched"] for r in out)
    assert {r["url"]: bytes(r["content"]) for r in out} == want
    # the fan-out is real: rows were produced by ≥2 distinct partitions
    assert len({r["part_id"] for r in out}) >= 2
    for i in range(8):  # per-path counters are race-free (each URL unique)
        assert _CountingHandler.counts.get(f"GET /doc{i}.csv") == 1

    # second pass, unchanged etags: HEAD-only — zero additional GETs
    out2 = fetch_partitioned(spark, urls, cache_dir=cache, n_partitions=4).collect()
    assert not any(r["fetched"] for r in out2)
    assert {r["url"]: bytes(r["content"]) for r in out2} == want
    for i in range(8):
        assert _CountingHandler.counts.get(f"GET /doc{i}.csv") == 1
        assert _CountingHandler.counts.get(f"HEAD /doc{i}.csv") == 2


def test_read_source_http_csv(spark, http_server, tmp_path):
    port = http_server.server_address[1]
    url = f"http://127.0.0.1:{port}/tbl.csv"
    _CountingHandler.store["/tbl.csv"] = (b"name,n\nalpha,1\nbeta,2\n", '"e1"')
    df = read_source(
        spark,
        {"format": "csv", "path": url, "cache_dir": str(tmp_path / "c")},
    )
    rows = {r.name: r.n for r in df.collect()}
    assert rows == {"alpha": "1", "beta": "2"}
    # a second pipeline build re-reads from cache, not the network
    read_source(
        spark, {"format": "csv", "path": url, "cache_dir": str(tmp_path / "c")}
    ).collect()
    assert _CountingHandler.counts.get("GET") == 1


# --------------------------------------------------------------------- excel


@needs_ec_fixture
def test_parse_xlsx_reference_golden_count():
    with open(EC_MEETINGS_XLSX, "rb") as f:
        df = parse_xlsx(f.read(), skiprows=1)
    assert len(df) == EC_GOLDEN_ROWS
    assert "Location" in df.columns  # /root/reference/tests/test_extract.py:40


@needs_ec_fixture
def test_read_excel_df_spark(spark):
    df = read_excel_df(spark, EC_MEETINGS_XLSX, skiprows=1)
    assert df.count() == EC_GOLDEN_ROWS
    assert "Location" in df.columns
    assert all(t == "string" for _, t in df.dtypes)


def _mk_xlsx(sheets, num_fmts=None, cell_xfs=("0",), date1904=False):
    """Minimal OOXML builder for typed-cell tests: ``sheets`` is an ordered
    list of (tab_name, part_file, rows); each row a list of cell XML snippets.
    Deliberately supports part numbering that disagrees with tab order."""
    import io as _io
    import zipfile as _zip

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    nsr = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    buf = _io.BytesIO()
    with _zip.ZipFile(buf, "w") as z:
        sheet_tags = "".join(
            f'<sheet name="{name}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
            for i, (name, _, _) in enumerate(sheets)
        )
        pr = '<workbookPr date1904="1"/>' if date1904 else "<workbookPr/>"
        z.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{ns}" xmlns:r="{nsr}">{pr}'
            f"<sheets>{sheet_tags}</sheets></workbook>",
        )
        rels = "".join(
            f'<Relationship Id="rId{i + 1}" Type="x" Target="worksheets/{part}"/>'
            for i, (_, part, _) in enumerate(sheets)
        )
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
            f'relationships">{rels}</Relationships>',
        )
        fmts = "".join(
            f'<numFmt numFmtId="{fid}" formatCode="{code}"/>'
            for fid, code in (num_fmts or {}).items()
        )
        xfs = "".join(f'<xf numFmtId="{fid}"/>' for fid in cell_xfs)
        z.writestr(
            "xl/styles.xml",
            f'<styleSheet xmlns="{ns}"><numFmts>{fmts}</numFmts>'
            f"<cellXfs>{xfs}</cellXfs></styleSheet>",
        )
        for _, part, rows in sheets:
            body = "".join(
                f'<row r="{i + 1}">' + "".join(cells) + "</row>"
                for i, cells in enumerate(rows)
            )
            z.writestr(
                f"xl/worksheets/{part}",
                f'<worksheet xmlns="{ns}"><sheetData>{body}</sheetData></worksheet>',
            )
    return buf.getvalue()


def _s(ref, text):  # inline-string cell
    return f'<c r="{ref}" t="inlineStr"><is><t>{text}</t></is></c>'


MEETING_COLS = ["Date", "Location", "Commissioner", "Subject"]


def _meetings_book(n_rows=30):
    """ec-meetings-shaped workbook: a title row above the header (hence
    ``skiprows=1``), an "Export Worksheet" tab, all-string cells, and every
    7th Commissioner cell missing (null until a fillna)."""
    rows = [[_s("A1", "Meetings of the Commission")],
            [_s(f"{c}2", h) for c, h in zip("ABCD", MEETING_COLS)]]
    for i in range(n_rows):
        r = i + 3
        cells = [_s(f"A{r}", f"2024-01-{1 + i % 28:02d}"),
                 _s(f"B{r}", ("Brussels", "Strasbourg")[i % 2])]
        if i % 7:
            cells.append(_s(f"C{r}", f"Commissioner {i % 5}"))
        cells.append(_s(f"D{r}", f"subject {i}"))
        rows.append(cells)
    return _mk_xlsx([("Export Worksheet", "sheet1.xml", rows)])


def test_parse_xlsx_generated_by_name_and_typed_parity():
    content = _meetings_book()
    df = parse_xlsx(content, skiprows=1)
    assert list(df.columns) == MEETING_COLS and len(df) == 30
    assert df["Commissioner"].isna().sum() == 5  # rows 0, 7, 14, 21, 28
    by_name = parse_xlsx(content, skiprows=1, sheet_name="Export Worksheet")
    assert by_name.equals(df)
    # typed mode is a no-op on an all-string workbook
    assert parse_xlsx(content, skiprows=1, typed=True).equals(df)


def test_read_excel_df_spark_generated(spark, tmp_path):
    path = tmp_path / "meetings.xlsx"
    path.write_bytes(_meetings_book())
    df = read_excel_df(spark, str(path), skiprows=1)
    assert df.columns == MEETING_COLS
    assert all(t == "string" for _, t in df.dtypes)
    assert df.count() == 30
    assert df.filter("Location = 'Strasbourg'").count() == 15


def test_pipeline_with_generated_xlsx_source_and_frame_ops(spark, tmp_path):
    from pyspark.sql import functions as F

    path = tmp_path / "meetings.xlsx"
    path.write_bytes(_meetings_book())

    def run(operations):
        cfg = PipelineConfig.from_dict({
            "name": "meetings",
            "source": {"format": "xlsx", "path": str(path),
                       "options": {"skiprows": 1}},
            "operations": operations,
        })
        df = build_pipeline(spark, cfg)
        nulls = df.select(
            sum(F.sum(F.col(c).isNull().cast("int")) for c in df.columns).alias("n")
        ).collect()[0].n
        return df.count(), nulls

    assert run([]) == (30, 5)
    assert run([{"handler": "DataFrame.fillna", "options": {"value": ""}}]) == (30, 0)


def test_xlsx_sheet_order_follows_workbook_not_part_names():
    """Tab order comes from workbook.xml: with parts numbered so that
    lexicographic (and numeric) part sort disagrees with tab order, index 0
    must resolve the FIRST TAB; names resolve regardless of part numbering."""
    content = _mk_xlsx(
        [
            ("meta", "sheet2.xml", [[_s("A1", "k")], [_s("A2", "m")]]),
            ("data", "sheet10.xml", [[_s("A1", "k")], [_s("A2", "d")]]),
        ]
    )
    assert parse_xlsx(content)["k"][0] == "m"  # first tab, not sheet10.xml
    assert parse_xlsx(content, sheet_name="data")["k"][0] == "d"
    assert parse_xlsx(content, sheet_index=1)["k"][0] == "d"
    with pytest.raises(KeyError, match="no sheet named"):
        parse_xlsx(content, sheet_name="nope")


def _typed_book():
    from datetime import datetime

    rows = [
        [_s("A1", "id"), _s("B1", "when"), _s("C1", "score"),
         _s("D1", "flag"), _s("E1", "note"), _s("F1", "custom_when")],
        [
            '<c r="A2"><v>7</v></c>',
            '<c r="B2" s="1"><v>45000</v></c>',        # numFmtId 14 → date
            '<c r="C2" s="3"><v>1.5</v></c>',          # "0.00" → NOT a date
            '<c r="D2" t="b"><v>1</v></c>',
            _s("E2", "hello"),
            '<c r="F2" s="2"><v>45000.5</v></c>',      # custom date-time fmt
        ],
        [
            '<c r="A3"><v>8</v></c>',
            '<c r="B3" s="1"><v>45001</v></c>',
            '<c r="C3" s="3"><v>2.25</v></c>',
            '<c r="D3" t="b"><v>0</v></c>',
            _s("E3", "bye"),
            '<c r="F3" s="2"><v>45001.25</v></c>',
        ],
    ]
    content = _mk_xlsx(
        [("data", "sheet1.xml", rows)],
        num_fmts={164: "dd/mm/yyyy hh:mm", 165: "0.00"},
        cell_xfs=("0", "14", "164", "165"),
    )
    epoch = datetime(1899, 12, 30)
    return content, epoch


def test_parse_xlsx_typed_cells_style_aware_dates():
    from datetime import timedelta

    content, epoch = _typed_book()
    # default face unchanged: everything a string, dates stay serial text
    raw = parse_xlsx(content)
    assert list(raw.loc[0]) == ["7", "45000", "1.5", "1", "hello", "45000.5"]

    df = parse_xlsx(content, typed=True)
    assert list(df["id"]) == [7, 8]
    assert df["when"][0] == epoch + timedelta(days=45000)
    assert df["custom_when"][0] == epoch + timedelta(days=45000.5)  # 12:00
    assert df["score"][0] == 1.5 and isinstance(df["score"][0], float)
    assert list(df["flag"]) == [True, False]
    assert df["note"][0] == "hello"


def test_parse_xlsx_typed_1904_epoch():
    from datetime import datetime, timedelta

    rows = [[_s("A1", "d")], ['<c r="A2" s="1"><v>100</v></c>']]
    content = _mk_xlsx([("s", "sheet1.xml", rows)], cell_xfs=("0", "14"),
                       date1904=True)
    df = parse_xlsx(content, typed=True)
    assert df["d"][0] == datetime(1904, 1, 1) + timedelta(days=100)


def test_read_excel_df_typed_roundtrip(spark, tmp_path):
    """Golden typed round-trip through Spark: a real date column lands as
    TIMESTAMP (not string), numerics as long/double, bools as boolean."""
    from datetime import timedelta

    content, epoch = _typed_book()
    (tmp_path / "a.xlsx").write_bytes(content)
    (tmp_path / "b.xlsx").write_bytes(content)

    df = read_excel_df(spark, str(tmp_path / "*.xlsx"), typed=True)
    assert dict(df.dtypes) == {
        "id": "bigint", "when": "timestamp", "score": "double",
        "flag": "boolean", "note": "string", "custom_when": "timestamp",
    }
    rows = df.orderBy("id").collect()
    assert len(rows) == 4  # two files × two rows
    assert rows[0]["when"] == epoch + timedelta(days=45000)
    assert rows[0]["custom_when"] == epoch + timedelta(days=45000.5)
    assert rows[0]["id"] == 7 and rows[0]["flag"] is True
    assert rows[0]["score"] == 1.5


@needs_ec_fixture
def test_parse_xlsx_reference_fixture_by_name_and_typed_parity():
    """ec-meetings: sheet-by-name matches the golden sheet; typed mode is a
    no-op on an all-string workbook (pandas read_excel parity: strings stay
    strings, no guessing)."""
    with open(EC_MEETINGS_XLSX, "rb") as f:
        content = f.read()
    by_name = parse_xlsx(content, skiprows=1, sheet_name="Export Worksheet")
    assert len(by_name) == EC_GOLDEN_ROWS and "Location" in by_name.columns
    typed = parse_xlsx(content, skiprows=1, typed=True)
    assert typed.equals(parse_xlsx(content, skiprows=1))


@needs_ec_fixture
def test_pipeline_with_xlsx_source_and_frame_ops(spark):
    cfg = PipelineConfig.from_dict(
        {
            "name": "ec_meetings",
            "source": {
                "format": "xlsx",
                "path": EC_MEETINGS_XLSX,
                "options": {"skiprows": 1},
            },
            # the reference fixture's playbook op, same YAML shape
            # (/root/reference/tests/fixtures/ec_meetings/config.yml:28-35)
            "operations": [
                {"handler": "DataFrame.fillna", "options": {"value": ""}}
            ],
        }
    )
    df = build_pipeline(spark, cfg)
    assert df.count() == EC_GOLDEN_ROWS
    # fillna("") leaves no nulls anywhere
    from pyspark.sql import functions as F

    nulls = df.select(
        sum(F.sum(F.col(c).isNull().cast("int")) for c in df.columns).alias("n")
    ).collect()[0].n
    assert nulls == 0


# ----------------------------------------------------------------- frame ops


def test_frame_ops_vocabulary(spark):
    df = spark.createDataFrame(
        [(1, None, "b"), (2, "x", "a"), (2, "x", "a"), (3, None, None)],
        ["id", "v", "w"],
    )
    out = apply_frame_ops(
        df,
        [
            {"handler": "DataFrame.fillna", "options": {"value": "?", "subset": ["v"]}},
            {"handler": "DataFrame.drop_duplicates"},
            {"handler": "DataFrame.rename", "options": {"columns": {"w": "label"}}},
            {"handler": "DataFrame.sort_values", "options": {"by": "id"}},
        ],
    )
    rows = [tuple(r) for r in out.collect()]
    assert out.columns == ["id", "v", "label"]
    assert rows == [(1, "?", "b"), (2, "x", "a"), (3, "?", None)]
    with pytest.raises(ValueError):
        apply_frame_ops(df, [{"handler": "DataFrame.eval"}])


def test_cli_fetch_conditional(http_server, tmp_path, capsys):
    import json

    from investigraph_etl_spark.cli import main as cli_main

    port = http_server.server_address[1]
    url = f"http://127.0.0.1:{port}/cli.csv"
    _CountingHandler.store["/cli.csv"] = (b"x\n1\n", '"c1"')
    assert cli_main(["fetch", "--url", url, "--cache-dir", str(tmp_path)]) == 0
    r1 = json.loads(capsys.readouterr().out.strip())
    assert r1["fetched"] is True
    assert cli_main(["fetch", "--url", url, "--cache-dir", str(tmp_path)]) == 0
    r2 = json.loads(capsys.readouterr().out.strip())
    assert r2["fetched"] is False and r2["path"] == r1["path"]


def test_lenient_date_parsing(spark):
    from pyspark.sql import functions as F

    from investigraph_etl_spark.functions.dates import lenient_to_date

    df = spark.createDataFrame(
        [
            ("2021-03-04",),
            ("04.03.2021",),
            ("04/03/2021",),   # day-first wins over US month-first
            ("20210304",),
            ("2021-03-04 10:11:12",),
            ("not a date",),
            (None,),
        ],
        ["raw"],
    )
    got = [r.d for r in df.select(lenient_to_date(F.col("raw")).alias("d")).collect()]
    import datetime as dt

    want = dt.date(2021, 3, 4)
    assert got == [want, want, want, want, want, None, None]


def test_deep_merge_reference_semantics():
    # lists concatenate; False/0/"" survive; None/{}/[] are skipped
    base = {"sources": [{"a": 1}], "flag": True, "keep": "x"}
    out = deep_merge(
        base,
        {"sources": [{"b": 2}], "flag": False, "keep": None, "n": 0, "s": ""},
    )
    assert out["sources"] == [{"a": 1}, {"b": 2}]
    assert out["flag"] is False
    assert out["keep"] == "x"
    assert out["n"] == 0 and out["s"] == ""


def test_serial_to_datetime_second_boundary_carry():
    """ADVICE r3: a serial whose float expansion lands within 500us below a
    second boundary must round UP with carry into the seconds field —
    .replace(microsecond=1000000) raised ValueError and aborted the whole
    typed read_excel_df job."""
    from datetime import datetime

    from investigraph_etl_spark.sources.excel import _serial_to_datetime

    # 45000 + 3/86400 days binary-rounds to ...02.999999
    dt = _serial_to_datetime(45000.000034722216, False)
    assert dt == datetime(2023, 3, 15, 0, 0, 3)
    # plain cases still round to the nearest millisecond, HALF_UP
    assert _serial_to_datetime(45000.0, False) == datetime(2023, 3, 15)
    assert _serial_to_datetime(45000.5, False) == datetime(2023, 3, 15, 12)
    mid = _serial_to_datetime(45000.25, False)
    assert mid == datetime(2023, 3, 15, 6) and mid.microsecond % 1000 == 0

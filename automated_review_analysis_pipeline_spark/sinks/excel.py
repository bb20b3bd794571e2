"""Excel workbook sink (reference K1-K5, survey_analysis.py:360-446).

Excel is inherently a driver-side, small-data sink (1 048 576-row sheet
cap): the wide DataFrame is collect()ed ONCE, the report's one Spark job
(its plan and any inline classifier UDF run once), and the Summary is
counted from those rows in one Python pass, as the reference's
build_summary_from_wide does. Layout is the reference's: one data sheet
per product (ResponseID string-sorted, quirk K1/O1), a Summary sheet,
and a chart sheet per product with per-question pie charts (helper
blocks at columns 50/51, 2-per-row grid, 480x320, "<question> –
Sentiment Mix (n=total)").

When xlsxwriter is absent, the sink writes a byte-real workbook through
the bundled dependency-free OOXML writer (sinks/xlsx_writer.py) -- same
sheets, widths, wrap formats, helper blocks, and pie-chart parts,
produced by the SAME layout code. At 100 TB the scalable path is
``wide.write.partitionBy("Product").parquet(...)`` (write_partitioned)
and Excel only ever receives aggregates.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, Row

from automated_review_analysis_pipeline_spark.functions.text import sanitize_sheet_name
from automated_review_analysis_pipeline_spark.sinks import xlsx_writer

try:  # gate: not in the container's baked-in set
    import xlsxwriter  # type: ignore  # noqa: F401
    HAVE_XLSXWRITER = True
except Exception:
    HAVE_XLSXWRITER = False

SENTIMENTS = ["Positive", "Neutral", "Negative", "Mixed"]
SummaryRow = Row("Product", "Question", *SENTIMENTS)


def _column_width(header: str, values: list[str], lo: int = 12, hi: int = 60) -> int:
    """K2 width heuristic (survey_analysis.py:360-365): 0.9 x max(len of
    header, len of longest of the first 1000 values), clamped."""
    longest = max([len(header)] + [len(str(v)) for v in values[:1000]])
    return max(lo, min(hi, int(0.9 * longest)))


def summary_rows(wide_rows: list, cols: list[str]) -> list[Row]:
    """operators.reshape.summary_from_wide over collected rows: a
    blank/missing sentiment counts as Neutral (Spark ``trim`` strips
    spaces only), any other non-enum value is counted nowhere, and every
    (Product, Question) group gets a 0-filled row, sorted by that pair."""
    questions = [(i, c[: -len("_Sentiment")]) for i, c in enumerate(cols)
                 if c.endswith("_Sentiment")]
    counts: dict[tuple, Counter] = {}
    for row in wide_rows:
        for i, q in questions:
            counts.setdefault((row["Product"], q), Counter())[
                (row[i] or "").strip(" ") or "Neutral"] += 1
    return [SummaryRow(*key, *(c[s] for s in SENTIMENTS))
            for key, c in sorted(counts.items())]


def write_excel_report(wide: DataFrame, out_path: str,
                       base_to_display: dict[str, str] | None = None) -> list[str]:
    """Write the report; returns the sheet-name inventory (tested against
    the reference's 13-sheet golden layout shape)."""
    base_to_display = base_to_display or {}
    wide_rows = wide.collect()
    cols = wide.columns
    per_product = {
        p: sorted(
            (r for r in wide_rows if r["Product"] == p),
            key=lambda r: r["ResponseID"],  # string sort: golden-quirk O1
        )
        for p in sorted({r["Product"] for r in wide_rows})
    }

    return _write_xlsx(out_path, cols, per_product,
                       summary_rows(wide_rows, cols), base_to_display)


def _write_xlsx(out_path: str, cols, per_product, summary_rows,
                base_to_display) -> list[str]:
    if HAVE_XLSXWRITER:
        import xlsxwriter  # type: ignore
        wb = xlsxwriter.Workbook(out_path)
    else:
        wb = xlsx_writer.Workbook(out_path)
    wrap = wb.add_format({"text_wrap": True, "valign": "top"})
    sheets: list[str] = []

    for product, rows in per_product.items():
        name = sanitize_sheet_name(product)
        sheets.append(name)
        ws = wb.add_worksheet(name)
        ws.write_row(0, 0, cols)
        for r_i, row in enumerate(rows, start=1):
            ws.write_row(r_i, 0, [str(v) if v is not None else "" for v in row])
        for c_i, c in enumerate(cols):
            vals = [str(row[c_i]) for row in rows[:1000]]
            width = _column_width(c, vals)
            ws.set_column(c_i, c_i, width,
                          wrap if c.endswith("_Answer") else None)

    ws = wb.add_worksheet("Summary")
    sheets.append("Summary")
    header = ["Product", "Question", *SENTIMENTS]
    ws.write_row(0, 0, header)
    for r_i, row in enumerate(summary_rows, start=1):
        ws.write_row(r_i, 0, list(row))
    for c_i, h in enumerate(header):
        ws.set_column(c_i, c_i, _column_width(
            h, [str(r[c_i]) for r in summary_rows[:1000]], 10, 40))

    # per-product chart sheets: pie per question, helper blocks at cols
    # 50/51, 2 charts per row, grid anchors (2+20r, 1+9c)
    by_product: dict[str, list] = {}
    for row in summary_rows:
        by_product.setdefault(row["Product"], []).append(row)
    for product in per_product:
        rows = sorted(by_product.get(product, []), key=lambda r: r["Question"])
        name = sanitize_sheet_name(f"Charts - {product}")
        sheets.append(name)
        ws = wb.add_worksheet(name)
        # bold sheet title in A1 (survey_analysis.py:412)
        ws.write(0, 0, f"Sentiment Mix per Question — {product}",
                 wb.add_format({"bold": True}))
        for i, row in enumerate(rows):
            helper_row = 2 + 6 * i
            counts = [row[s] for s in SENTIMENTS]
            total = sum(counts)
            for j, (label, v) in enumerate(zip(SENTIMENTS, counts)):
                ws.write(helper_row + j, 50, label)
                ws.write(helper_row + j, 51, v)
            chart = wb.add_chart({"type": "pie"})
            chart.add_series({
                "categories": [name, helper_row, 50, helper_row + 3, 50],
                "values": [name, helper_row, 51, helper_row + 3, 51],
                "data_labels": {"percentage": True, "category": True},
            })
            display = base_to_display.get(row["Question"], row["Question"])
            chart.set_title({"name": f"{display} – Sentiment Mix (n={total})"})
            chart.set_size({"width": 480, "height": 320})
            ws.insert_chart(2 + 20 * (i // 2), 1 + 9 * (i % 2), chart)

    wb.close()
    return sheets


def write_partitioned(wide: DataFrame, out_dir: str) -> None:
    """The 100 TB sink: per-product parquet partitions; Excel then only
    ever sees the bounded summary aggregates."""
    wide.write.mode("overwrite").partitionBy("Product").parquet(out_dir)

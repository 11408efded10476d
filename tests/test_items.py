"""Schema parity with the reference's item declarations (SURVEY §1.1-1.4).

The reference's ``scrapy.Item`` classes, their declared fields and output
processors are checked in as data (``tests/reference_items.py``); the tests
assert the engine's ITEM_SPECS match them field for field — names, order,
and fold semantics.  Where the reference source is checked out at ``REF``,
its live parse must also equal that table.  Also unit-tests the Spark
re-expression of the item-loader folds.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from nrsr_crawler_spark import items as I
from tests.reference_items import REFERENCE_CHILD_FIELDS, REFERENCE_ITEMS

REF = "/root/reference/nrsr/items.py"


def _parse_reference_source() -> dict[str, list[tuple[str, str]]]:
    """class name → [(field, fold)] parsed from the reference source."""
    src = open(REF, encoding="utf-8").read()
    classes: dict[str, list[tuple[str, str]]] = {}
    current = None
    buf = ""
    for line in src.splitlines():
        m = re.match(r"class (\w+)\(scrapy\.Item\):", line)
        if m:
            current = m.group(1)
            classes[current] = []
            buf = ""
            continue
        if current is None:
            continue
        buf += line + "\n"
        # fields may span lines until the closing paren balances
        while True:
            fm = re.search(r"(\w+) = scrapy\.Field\(", buf)
            if not fm:
                if "= scrapy.Field()" in buf:
                    for sm in re.finditer(r"(\w+) = scrapy\.Field\(\)", buf):
                        classes[current].append((sm.group(1), "keep_list"))
                    buf = re.sub(r"\w+ = scrapy\.Field\(\)", "", buf)
                break
            start = fm.end() - 1
            depth = 0
            end = None
            for i, ch in enumerate(buf[start:], start):
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        end = i
                        break
            if end is None:
                break  # incomplete; wait for more lines
            body = buf[start : end + 1]
            if "output_processor=TakeFirst" in body:
                fold = "take_first"
            elif "output_processor=Join" in body:
                fold = "join"
            else:
                fold = "keep_list"
            classes[current].append((fm.group(1), fold))
            buf = buf[:fm.start()] + buf[end + 1 :]
    return {k: v for k, v in classes.items() if v}


def _reference_classes() -> dict[str, list[tuple[str, str]]]:
    """class name → [(field, fold)] from the checked-in table (child items
    carry field names only); where the reference source exists, its live
    parse must equal the table."""
    if os.path.exists(REF):
        live = _parse_reference_source()
        assert set(live) == set(REFERENCE_ITEMS) | set(REFERENCE_CHILD_FIELDS)
        assert {c: live[c] for c in REFERENCE_ITEMS} == REFERENCE_ITEMS
        assert {
            c: [f for f, _ in live[c]] for c in REFERENCE_CHILD_FIELDS
        } == REFERENCE_CHILD_FIELDS
    return {
        **REFERENCE_ITEMS,
        **{c: [(f, None) for f in fs] for c, fs in REFERENCE_CHILD_FIELDS.items()},
    }


def test_every_reference_item_class_is_mapped():
    ref = _reference_classes()
    mapped = set(I.CLASS_TO_TYPE) | set(I.CHILD_STRUCTS)
    assert set(ref) == mapped, set(ref) ^ mapped


def test_field_names_and_order_match_reference():
    ref = _reference_classes()
    for cls, item_type in I.CLASS_TO_TYPE.items():
        ref_fields = [f for f, _ in ref[cls]]
        spec_fields = [n for n, _, _ in I.ITEM_SPECS[item_type]]
        assert spec_fields == ref_fields, (cls, spec_fields, ref_fields)


def test_fold_semantics_match_reference():
    ref = _reference_classes()
    for cls, item_type in I.CLASS_TO_TYPE.items():
        for field, ref_fold in ref[cls]:
            assert I.fold_for(item_type, field) == ref_fold, (cls, field)


def test_child_struct_fields_match_reference():
    ref = _reference_classes()
    for cls, st in I.CHILD_STRUCTS.items():
        assert [f.name for f in st.fields] == [f for f, _ in ref[cls]], cls


def test_schema_for_builds_structtype():
    st = I.schema_for("voting")
    assert st["votes"].dataType.elementType == I.VOTING_VOTE
    assert st["external_id"].dataType.typeName() == "long"


def test_apply_fold_semantics(spark):
    df = spark.createDataFrame(
        [([None, "a", "b"],)], "xs array<string>"
    ).select(
        I.apply_fold(F.col("xs"), I.TF).alias("tf"),
        I.apply_fold(F.col("xs"), I.JOIN).alias("joined"),
        I.apply_fold(F.col("xs"), I.KEEP).alias("kept"),
    )
    r = df.collect()[0]
    assert r.tf == "a"                      # first non-null (TakeFirst)
    assert r.joined == "a b"                # Join() drops nulls like ' '.join of extracted
    assert r.kept == [None, "a", "b"]


def test_mapcompose_then_fold(spark):
    # MapCompose(filter_vote) + Join — VotingVoteItem.vote (items.py:234-237)
    from nrsr_crawler_spark.functions import cleaners as C

    df = spark.createDataFrame([(["[Za] x", "[Proti] y"],)], "xs array<string>")
    got = df.select(
        I.apply_fold(
            F.transform(F.col("xs"), lambda x: C.vote_bracket(x)), I.JOIN
        ).alias("v")
    ).collect()[0].v
    assert got == "Za Proti"


# -- positional-td changes-table kernel (bills.py:198-211) --------------------

def test_parse_changes_table_positional_tds():
    from nrsr_crawler_spark.operators.parse_typed import _parse_changes_table

    html = (
        '<div id="billstep" data-period="1"></div>'
        '<table id="changes">'
        "<tr><td> 5. 3. 2004 - doplnenie </td><td>A7</td>"
        '<td><a href="/web/Default.aspx?sid=zakony/zmena&ID=11"></a></td>'
        "<td><a>Príloha 1</a></td>"
        '<td><a href="/web/dok/11"></a></td></tr>'
        "<tr><td>29. 12. 2019, späť</td><td>A8</td>"
        '<td><a href="/d2"></a></td><td><a>P2</a></td><td><a href="/u2"></a></td></tr>'
        "</table>"
    )
    rows = _parse_changes_table(html)
    assert [r["author"] for r in rows] == ["A7", "A8"]  # document order kept
    assert rows[0]["date_raw"] == "5. 3. 2004 - doplnenie"
    assert rows[0]["detail"] == "/web/Default.aspx?sid=zakony/zmena&ID=11"
    assert rows[0]["attachment_title"] == "Príloha 1"
    assert rows[0]["attachment_url"] == "/web/dok/11"
    assert rows[1]["date_raw"] == "29. 12. 2019, späť"


def test_parse_changes_table_absent_or_short_rows():
    from nrsr_crawler_spark.operators.parse_typed import _parse_changes_table

    assert _parse_changes_table("<p>no table</p>") == []
    # rows with <5 tds are skipped (malformed markup), matching the
    # reference's implicit requirement of td[1]..td[5]
    html = '<table id="changes"><tr><td>1. 2. 2003</td><td>A</td></tr></table>'
    assert _parse_changes_table(html) == []


def test_parse_program_table_kernel():
    from nrsr_crawler_spark.operators.parse_typed import _parse_program_table

    html = (
        '<div id="session" data-period="1"></div>'
        '<table id="program">'
        '<tr><td><img alt=" Prerokovaný bod "/></td><td> 1\xfd. </td>'
        '<td><a href="Default.aspx?sid=zakony/cpt&ID=77">77\xfd</a></td>'
        "<td><strong>T1 1</strong><i>T2 1</i>T3 1</td></tr>"
        "<tr><td></td><td> x\xfd. </td>"
        '<td><a href="Default.aspx?sid=zakony/cpt&ID=78">bez\xfd</a></td>'
        "<td><strong>T1 2</strong><i>T2 2</i>T3 2</td></tr>"
        "</table>"
    )
    rows = _parse_program_table(html)
    assert rows[0]["state"] == "Prerokovaný bod" and rows[1]["state"] is None
    assert rows[0]["progpoint_raw"] == " 1\xfd. "
    assert rows[0]["parlpress_raw"] == "77\xfd" and rows[1]["parlpress_raw"] == "bez\xfd"
    assert rows[0]["parlpress_href"] == "Default.aspx?sid=zakony/cpt&ID=77"
    assert rows[0]["text1"] == "T1 1" and rows[0]["text2"] == "T2 1" and rows[0]["text3"] == "T3 1"


def test_parse_members_and_sessions_kernels():
    from nrsr_crawler_spark.operators.parse_typed import (
        _parse_members_list,
        _parse_sessions,
    )

    html = (
        '<div class="member_name"><a href="/p?PoslanecID=501"></a><span> predseda </span></div>'
        '<div class="member_name"><a href="/p?PoslanecID=502"></a><span> člen </span></div>'
    )
    ms = _parse_members_list(html)
    assert [(m["href"], m["role"].strip()) for m in ms] == [
        ("/p?PoslanecID=501", "predseda"), ("/p?PoslanecID=502", "člen"),
    ]

    sess_html = (
        '<div class="sess"><span class="date">5. 3. 2021</span>'
        '<strong class="time">9:00</strong>'
        '<div class="place">Miestnosť 12</div><div class="place">budova NR SR</div>'
        '<ul class="points"><li><a>123</a> bod 1</li><li><a>bez tlače</a> bod 2</li></ul>'
        "</div><!--/sess-->"
        '<div class="sess"><span class="date">6. 3. 2021</span>'
        '<strong class="time">10:00</strong><ul class="points"></ul></div><!--/sess-->'
    )
    ss = _parse_sessions(sess_html)
    assert len(ss) == 2
    assert ss[0]["date"] == "5. 3. 2021" and ss[0]["time"] == "9:00"
    assert ss[0]["place"] == ["Miestnosť 12", "budova NR SR"]
    assert [(p["press_raw"], p["text"]) for p in ss[0]["points"]] == [
        ("123", "bod 1"), ("bez tlače", "bod 2"),
    ]
    assert ss[1]["points"] == [] and ss[1]["place"] == []


def test_parse_mch_ul_status_kernels():
    from nrsr_crawler_spark.operators.parse_typed import (
        _parse_mch_rows,
        _parse_status_div,
        _parse_ul,
        _parse_votelink,
    )

    mch = (
        '<table id="mch">'
        '<tr><td>5. 3. 2010</td><td><a href="/p?PoslanecID=42">F S</a></td>'
        "<td>Mandát zaniknutý</td><td>Dôvod 1</td></tr>"
        "</table>"
    )
    rows = _parse_mch_rows(mch)
    assert rows == [{
        "date_raw": "5. 3. 2010", "href": "/p?PoslanecID=42",
        "change_type": "Mandát zaniknutý", "change_reason": "Dôvod 1",
    }]
    assert _parse_mch_rows("<p>none</p>") == []

    ul = '<ul id="subm"><li><span>P1</span></li><li><span>P2</span></li></ul>'
    assert _parse_ul("subm")(ul) == ["P1", "P2"]
    assert _parse_ul("signed")(ul) == []

    assert _parse_status_div('<div id="status">Stav: zodpovedaná</div>') == "Stav: zodpovedaná"
    assert _parse_status_div("<div>x</div>") is None
    assert _parse_votelink('<a id="votelink" href="/h?ID=9"></a>') == "/h?ID=9"
    assert _parse_votelink("") is None

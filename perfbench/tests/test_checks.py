from perfbench import checks


def _rows(expected):
    """Spark-shaped output rows carrying exactly the expected output."""
    return [{"doc_id": d,
             "spans": [{"kind": k, "text": t, "media_ref": m, "offset": o}
                       for k, t, m, o in recs],
             "markdown": md}
            for d, (recs, md) in expected.items()]


def test_correct_rows_pass():
    want = checks.expected_docs([3, 7], seed=5)
    assert checks.mismatched(want, checks.docs_from_rows(_rows(want))) == []


def test_corrupted_row_fails():
    want = checks.expected_docs([3, 7], seed=5)
    rows = _rows(want)
    rows[1]["spans"][0]["text"] += "x"
    assert checks.mismatched(want, checks.docs_from_rows(rows)) == [rows[1]["doc_id"]]


def test_corrupted_markdown_missing_and_duplicate_rows_fail():
    want = checks.expected_docs([3, 7, 11], seed=5)
    rows = _rows(want)
    rows[0]["markdown"] = rows[0]["markdown"][:-1]
    dropped = rows.pop(1)["doc_id"]
    rows.append(dict(rows[-1]))  # the last doc appears twice
    bad = checks.mismatched(want, checks.docs_from_rows(rows))
    assert bad == sorted([rows[0]["doc_id"], dropped, rows[-1]["doc_id"]])


def test_sample_is_seeded_and_covers_a_giant():
    a = checks.sample_indices(4000, seed=9)
    assert a == checks.sample_indices(4000, seed=9)
    assert a != checks.sample_indices(4000, seed=10)
    assert 500 in a and all(0 <= i < 4000 for i in a)


def test_checksum_mismatch_is_reported():
    want = {"rows": 10, "sum_cluster": 40, "keepers": 3}
    assert checks.checksum_mismatches(want, dict(want)) == []
    assert checks.checksum_mismatches(want, {**want, "keepers": 4}) == ["keepers"]

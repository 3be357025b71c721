from xmlbench import check, corpus


def _parts(c):
    """One output file holding every document's lines in order."""
    return [[line for d in c.documents for line in d.lines]]


def test_correct_output_passes():
    c = corpus.generate("many_small_docs", 1)
    assert check.check_lines(_parts(c), c.expected()) == []
    # documents may be spread over files, in any file order
    split = [list(c.documents[1].lines), list(c.documents[0].lines)] + [
        [line for d in c.documents[2:] for line in d.lines]]
    assert check.check_lines(split, c.expected()) == []


def test_dropped_row_fails():
    c = corpus.generate("many_small_docs", 1)
    parts = _parts(c)
    del parts[0][5]
    assert check.check_lines(parts, c.expected())


def test_reordered_row_fails():
    c = corpus.generate("many_small_docs", 1)
    parts = _parts(c)
    parts[0][3], parts[0][4] = parts[0][4], parts[0][3]  # same document
    assert any("expected sequence" in p for p in check.check_lines(parts, c.expected()))


def test_missing_trailing_delimiter_fails():
    c = corpus.generate("many_small_docs", 1)
    parts = _parts(c)
    parts[0][0] = parts[0][0].rstrip(";")
    assert check.check_lines(parts, c.expected())


def test_document_split_across_files_fails():
    c = corpus.generate("many_small_docs", 1)
    lines = list(c.documents[0].lines)
    parts = [lines[:2], lines[2:] + [line for d in c.documents[1:] for line in d.lines]]
    assert any("split" in p for p in check.check_lines(parts, c.expected()))

import os

import pytest

from xmlbench import corpus


@pytest.mark.parametrize("workload", sorted(corpus.WORKLOADS))
def test_same_seed_gives_byte_identical_corpus(workload, tmp_path):
    roots = [tmp_path / "a", tmp_path / "b"]
    for root in roots:
        corpus.write(corpus.generate(workload, 7), str(root))
    files = sorted(os.listdir(roots[0] / "in"))
    assert files == sorted(os.listdir(roots[1] / "in"))
    for name in files:
        assert (roots[0] / "in" / name).read_bytes() == (roots[1] / "in" / name).read_bytes()
    assert (roots[0] / "config.xml").read_bytes() == (roots[1] / "config.xml").read_bytes()


@pytest.mark.parametrize("workload", sorted(corpus.WORKLOADS))
def test_other_seed_changes_content_not_size(workload):
    base = corpus.generate(workload, 1)
    for seed in (2, 3, 4):
        other = corpus.generate(workload, seed)
        assert [d.xml for d in other.documents] != [d.xml for d in base.documents]
        assert other.expected() != base.expected()
        assert len(other.documents) == len(base.documents)
        assert abs(other.input_bytes / base.input_bytes - 1) < 0.03


def test_expected_lines_follow_the_predicate():
    c = corpus.generate("few_large_docs_filtered_general", 3)
    w = c.workload
    # one kept book per inventory, so one line per inventory
    assert c.expected_lines == w.docs * w.inventories
    ids = {line.split(";")[4] for d in c.documents for line in d.lines}
    assert len(ids) == 1
    assert f"book;true;false;{ids.pop()};" in c.config_xml


def test_general_config_leaves_the_fused_subset():
    from hadoopxmlextractor_spark import ExtractionConfig
    from hadoopxmlextractor_spark.xpath_subset import compile_subset

    def unsupported(xml):
        cfg = ExtractionConfig.from_hadoop_xml(xml, is_text=True)
        return [xp.expr for r in cfg.rules for xp in r.xpaths if compile_subset(xp.expr) is None]

    assert unsupported(corpus.config_xml()) == []
    assert unsupported(corpus.config_xml(general=True)) == ["//address/child::phone/text()"]

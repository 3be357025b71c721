"""Cross-validation of the fused XPath subset against Spark's JVM
xpath over GENERATED documents and expressions — the axis/predicate
rework's safety net beyond the hand-picked cases: every expression the
subset claims to compile must agree with javax node-for-node on
arbitrary tree shapes (nested same-name elements, empty nodesets,
multi-node concat, mixed text/tails). Round-5 extensions fuzzed here:
predicate chains, boolean and/or predicates, child-element
comparisons, descendant::/ancestor-or-self::/following::/preceding::
axes, relative paths, @* terminals, positional text() terminals."""

import random
import xml.etree.ElementTree as ET

import pyspark.sql.functions as F

from hadoopxmlextractor_spark.xpath_subset import compile_subset, normalize_for_jvm

TAGS = ["a", "b", "c", "d"]
ATTRS = [("id", ["1", "2", "x"]), ("cat", ["p", "q"])]
# include numeric texts so child-element NUMERIC comparisons exercise
# all three regimes (match, mismatch, NaN via concatenated texts)
TEXTS = ["t1", "t2", "zz", "1", "2"]


def _gen_tree(rng: random.Random, ns: bool = False) -> str:
    pre = "x:" if ns else ""

    def build(depth: int) -> ET.Element:
        el = ET.Element(pre + rng.choice(TAGS))
        # up to TWO attributes: multi-attr elements exercise the @*
        # name-sorted emission and multi-attr union merges
        for name, vals in rng.sample(ATTRS, k=rng.randint(0, 2)):
            if rng.random() < 0.6:
                el.set(name, rng.choice(vals))
        if rng.random() < 0.5:
            el.text = rng.choice(TEXTS)
        if depth < 3:
            for _ in range(rng.randint(0, 3)):
                child = build(depth + 1)
                el.append(child)
                if rng.random() < 0.3:
                    child.tail = rng.choice(TEXTS)
        return el

    root = ET.Element(pre + "r")
    if ns:
        root.set("xmlns:x", "http://example.com/x")
    for _ in range(rng.randint(1, 3)):
        root.append(build(1))
    return ET.tostring(root, encoding="unicode")


def _gen_atom(rng: random.Random) -> str:
    roll = rng.random()
    if roll < 0.1:
        # relative location-path atom: child chain with optional /@attr
        # terminal and optional comparison
        # child chains only ('.//': javax ns quirk, out of subset)
        steps = "/".join(rng.choice(TAGS + ["*"]) for _ in range(rng.randint(1, 2)))
        lead = ""
        term = f"/@{rng.choice(['id', 'cat'])}" if rng.random() < 0.3 else ""
        croll = rng.random()
        if croll < 0.4:
            cmp = ""
        elif croll < 0.7:
            op = "=" if rng.random() < 0.7 else "!="
            cmp = f"{op}'{rng.choice(['t1', 'zz', 't1t2', '1', '2', ''])}'"
        else:
            cmp = f"{rng.choice(['=', '!=', '<', '<=', '>', '>='])}{rng.choice(['1', '2', '12'])}"
        return f"{lead}{steps}{term}{cmp}"
    if roll < 0.18:
        attr, vals = rng.choice(ATTRS)
        op = "=" if rng.random() < 0.7 else "!="
        return f"@{attr}{op}'{rng.choice(vals)}'"
    if roll < 0.3:
        # numeric attr comparison: values include numerics ("1","2"),
        # a non-numeric ("x" → NaN), and absent attrs (empty nodeset)
        attr, _ = rng.choice(ATTRS)
        op = rng.choice(["=", "!=", "<", "<=", ">", ">="])
        return f"@{attr}{op}{rng.choice(['1', '2', '1.5'])}"
    if roll < 0.38:
        return f"@{rng.choice(['id', 'cat'])}"  # attribute exists
    if roll < 0.46:
        return rng.choice(TAGS + ["*"])  # child element exists
    if roll < 0.58:
        # child-element string comparison — EXISTENTIAL over children;
        # string-values are concatenated subtree texts
        name = rng.choice(TAGS)
        op = "=" if rng.random() < 0.7 else "!="
        sv = rng.choice(["t1", "zz", "t1t2", "1", ""])
        return f"{name}{op}'{sv}'"
    if roll < 0.68:
        # child-element numeric comparison (NaN via concat texts)
        name = rng.choice(TAGS)
        op = rng.choice(["=", "!=", "<", "<=", ">", ">="])
        return f"{name}{op}{rng.choice(['1', '2', '12'])}"
    if roll < 0.8:
        op = rng.choice(["=", "!=", "<", "<=", ">", ">="])
        return f"position(){op}{rng.randint(1, 3)}"
    if roll < 0.86:
        return "position()=last()"
    fn = rng.choice(["contains", "starts-with"])
    attr, _ = rng.choice(ATTRS)
    arg = rng.choice(["1", "p", "zz", ""])
    return f"[{fn}(@{attr},'{arg}')]"[1:-1]


def _gen_bool(rng: random.Random, depth: int = 0) -> str:
    """Boolean expression: atoms, and/or (XPath precedence),
    parenthesized groups, not(...) — one nesting level of recursion."""
    def term() -> str:
        r = rng.random()
        if depth == 0 and r < 0.12:
            return f"not({_gen_bool(rng, depth + 1)})"
        if depth == 0 and r < 0.2:
            return f"({_gen_bool(rng, depth + 1)})"
        return _gen_atom(rng)

    n = rng.randint(1, 3)
    out = term()
    for _ in range(n - 1):
        out += f" {rng.choice(['and', 'or'])} {term()}"
    return out


def _gen_pred(rng: random.Random) -> str:
    roll = rng.random()
    if roll < 0.25:
        return f"[{rng.randint(1, 3)}]"
    if roll < 0.35:
        return "[last()]"
    if roll < 0.6:
        return f"[{_gen_atom(rng)}]"
    return f"[{_gen_bool(rng)}]"


def _gen_preds(rng: random.Random) -> str:
    # predicate CHAINS: each filters the previous survivors
    # (javax-verified sequential semantics)
    r = rng.random()
    n = 0 if r < 0.45 else (1 if r < 0.85 else 2)
    return "".join(_gen_pred(rng) for _ in range(n))


def _gen_branch(rng: random.Random) -> str:
    if rng.random() < 0.04:
        return "//text()"  # bare text(): the whole document's text
    parts = []
    relative = rng.random() < 0.1  # relative first step ≡ '/' (javax)
    for step_i in range(rng.randint(1, 3)):
        axis = "//" if rng.random() < 0.6 else "/"
        if step_i == 0 and relative:
            axis = ""
        # parent / sibling / ancestor / full-document axes: '..' may
        # reach the DOCUMENT node from the root — also exercised
        aroll = rng.random()
        if step_i > 0 and aroll < 0.08:
            parts.append("/..")  # '//..' is out of subset (text nodes)
            continue
        if step_i > 0 and aroll < 0.12:
            parts.append("/.")  # self::node(); '//.' is out of subset
            continue
        axis_prefix = ""
        if step_i > 0 and aroll < 0.4:
            axis_prefix = rng.choice(
                ["parent::", "following-sibling::", "preceding-sibling::",
                 "ancestor::", "ancestor-or-self::", "descendant::",
                 "following::", "preceding::", "self::"]
            )
            if axis_prefix != "descendant::":
                # only descendant:: is exact under '//' (text nodes
                # have no element descendants); others fall back
                axis = "/"
        name = rng.choice(TAGS + ["*"])
        if name != "*" and not axis_prefix and rng.random() < 0.2:
            name = f"x:{name}"  # prefixed step: local-name match via strip
        preds = _gen_preds(rng)
        if axis_prefix in (
            "preceding-sibling::", "ancestor::", "ancestor-or-self::",
            "preceding::",
        ) and preds.count("[") >= 2:
            # positional chains on reverse axes are OUT of subset
            # (Xalan iterator-reset bug — see xpath_subset._parse_path);
            # keep the generator inside the grammar with one predicate
            preds = _gen_pred(rng)
        parts.append(f"{axis}{axis_prefix}{name}{preds}")
    roll = rng.random()
    if roll < 0.3:
        sep = "/" if rng.random() < 0.7 else "//"
        posroll = rng.random()
        if posroll < 0.5:
            pos = ""
        elif posroll < 0.85:
            pos = f"[{rng.randint(1, 2)}]"
        else:
            pos = "[last()]"
        parts.append(f"{sep}text(){pos}")
    elif roll < 0.5:
        parts.append(f"/@{rng.choice(['id', 'cat'])}")
    elif roll < 0.58:
        parts.append("/@*")
    return "".join(parts)


def _gen_expr(rng: random.Random) -> str:
    # ~1/3 top-level unions (2-3 branches): the union nodeset must
    # merge in global document order with duplicates held once
    if rng.random() < 0.35:
        return " | ".join(_gen_branch(rng) for _ in range(rng.randint(2, 3)))
    return _gen_branch(rng)


def test_fused_subset_agrees_with_jvm_xpath_on_generated_cases(spark):
    rng = random.Random(20260813)
    # mix in namespaced documents: unprefixed steps must match by local
    # name on both paths (the round-2 namespace semantics)
    docs = [_gen_tree(rng, ns=(i % 4 == 3)) for i in range(40)]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "i long, xml string")

    checked = 0
    for _ in range(90):
        expr = _gen_expr(rng)
        ev = compile_subset(expr)
        assert ev is not None, f"generated expr left the subset: {expr}"
        jvm_expr = normalize_for_jvm(expr)  # what extract._xpath_array evaluates
        jvm = {
            # null node values join as "" (array_join semantics in
            # extract.extract_cells); empty array ≡ no cell ≡ None
            r["i"]: "".join(x or "" for x in r["nodes"]) if r["nodes"] else None
            for r in df.select(
                "i", F.xpath("xml", F.lit(jvm_expr)).alias("nodes")
            ).collect()
        }
        for i, doc in enumerate(docs):
            fused = ev(ET.fromstring(doc))
            assert (fused or "") == (jvm[i] or ""), (expr, i, fused, jvm[i], doc)
        checked += 1
    assert checked == 90

from perfbench import inputs


def test_lineitem_is_seeded_and_shaped_like_sf01():
    a = inputs.lineitem(3, n=20_000)
    assert a.equals(inputs.lineitem(3, n=20_000))
    assert not a.equals(inputs.lineitem(4, n=20_000))
    assert len(a) == 20_000 and a["l_linenumber"].between(1, 7).all()
    assert set(a["l_linestatus"]) == {"O", "F"} and set(a["l_returnflag"]) == {"A", "N", "R"}
    assert a["l_discount"].nunique() == 11 and a["l_tax"].nunique() == 9
    assert a["l_shipdate"].min() >= inputs.SHIP_DAY0


def test_documents_carry_duplicates():
    d = inputs.documents(5)
    assert d.equals(inputs.documents(5))
    assert len(d) == inputs.N_DOCS and (d["n_chars"] == d["text"].str.len()).all()
    assert d["text"].duplicated().sum() == inputs.N_EXACT
    near = d["text"].str.endswith(" " + inputs.NEAR_MARK)
    assert inputs.N_NEAR <= near.sum() <= inputs.N_NEAR + inputs.N_EXACT
    words = d["text"].str.split()
    assert words.map(len).between(inputs.MIN_WORDS, inputs.MAX_WORDS).all()


def test_search_queries_are_seeded():
    q = inputs.search_queries(1, 30)
    assert q == inputs.search_queries(1, 30)
    assert [i for i, _ in q] == list(range(30))
    assert all(len(set(s.split())) == 3 for _, s in q)

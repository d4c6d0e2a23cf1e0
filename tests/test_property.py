"""Property tests (hypothesis) over the extraction semantics.

The fixture generator produces well-formed journal layouts; these tests
instead sample the full raw input space of the public schema — arbitrary
kinds (including unknown/None/empty), arbitrary short texts (including the
classifier trigger prefixes), arbitrary packed geometry — and pin two
engine-level properties:

1. **Differential**: the flagship mapInArrow kernel
   (``pipeline._extract_arrow``: the C whole-batch kernel, or its ``core``
   fallback without a compiler) agrees bit-for-bit with the readable golden
   oracle (core.extract_document) on every input, not just corpus-shaped
   ones.
2. **Input-order invariance** (SURVEY §5.3): the output depends only on span
   geometry/kind, never on input order of the *text* spans — provided no two
   spans share an exact (page, y1, x1) (ties are broken by input index, the
   same tie-break the reference's regression head training data implies).
   Media spans keep their relative input order by design (the reference
   iterates `annotate_table_figure` in arrival order,
   /root/reference/predict/pdf2markdown.py:663-670), so the permutation
   leaves media positions fixed.
"""

from hypothesis import given, settings, strategies as st

from ch_pdf_parse_spark import constants as C
from ch_pdf_parse_spark import core, native, pipeline

KINDS = list(C.TEXT_KINDS) + list(C.MEDIA_KINDS) + [C.UNLABELED, "", None,
                                                    "banana"]  # unknown kind

# alphabet chosen to hit every classifier branch: caption prefixes 图/表 +
# digit, reference brackets, 摘要/关键词 prefixes, the equation pseudo-text
# characters, CJK body text, ASCII, and whitespace
_ALPHABET = st.sampled_from(list("图表123[]摘要关键词#equation正文实验方法，。 a"))

_spans = st.lists(
    st.tuples(
        st.sampled_from(KINDS),
        st.one_of(st.none(), st.text(alphabet=_ALPHABET, max_size=10)),
        st.one_of(st.none(), st.sampled_from(["", "m1", "doc_p0_figure_0"])),
        st.one_of(
            st.none(),  # null offset ≡ origin (normalization contract)
            st.tuples(st.integers(0, 3), st.integers(0, 999),
                      st.integers(0, 9999)).map(lambda t: core.pack_offset(*t)),
        ),
    ),
    max_size=50,
)


def _run_kernel(spans):
    import pyarrow as pa

    batch = pa.RecordBatch.from_arrays(
        [pa.array(["d"]),
         pa.array([spans], pa.list_(native.SPAN_TYPE))],
        ["doc_id", "spans"])
    (out,) = pipeline._extract_arrow(iter([batch]))
    (d,) = out.to_pylist()
    return [tuple(r.values()) for r in d["spans"]], d["markdown"]


@settings(max_examples=300, deadline=None)
@given(_spans)
def test_kernel_matches_oracle_on_arbitrary_input(spans):
    assert _run_kernel(spans) == core.extract_document(spans)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(KINDS),
            st.text(alphabet=_ALPHABET, max_size=8),
            st.sampled_from(["", "m1"]),
            st.tuples(st.integers(0, 2), st.integers(0, 999),
                      st.integers(0, 9999))
            .map(lambda t: core.pack_offset(*t)),
        ),
        max_size=30,
        unique_by=lambda s: s[3],  # no exact (page,y1,x1) ties
    ),
    st.randoms(use_true_random=False),
)
def test_text_span_permutation_invariance(spans, rnd):
    base = core.extract_document(spans)
    txt_pos = [i for i, s in enumerate(spans)
               if (s[0] or "") not in ("figure", "table")]
    shuffled = txt_pos[:]
    rnd.shuffle(shuffled)
    permuted = list(spans)
    for src, dst in zip(txt_pos, shuffled):
        permuted[dst] = spans[src]
    assert core.extract_document(permuted) == base

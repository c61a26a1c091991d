"""A32 parity: document profiles + RequestProfile bitset vs reference
src/remote/profile.rs. Spark-free."""

from json_ld_spark.kernel import Profile, RequestProfile

# profile.rs:23-39 — the six URIs, verbatim
EXPECTED_URIS = {
    Profile.COMPACTED: "http://www.w3.org/ns/json-ld#compacted",
    Profile.CONTEXT: "http://www.w3.org/ns/json-ld#context",
    Profile.EXPANDED: "http://www.w3.org/ns/json-ld#expanded",
    Profile.FLATTENED: "http://www.w3.org/ns/json-ld#flattened",
    Profile.FRAME: "http://www.w3.org/ns/json-ld#frame",
    Profile.FRAMED: "http://www.w3.org/ns/json-ld#framed",
}


def test_profile_uris_verbatim():
    assert {p: p.uri for p in Profile} == EXPECTED_URIS


def test_profile_bits_distinct_and_ordered():
    # profile.rs:42-52 — one distinct bit per variant, shifts 0..5
    bits = [p.single_bit for p in Profile]
    assert bits == [1, 2, 4, 8, 16, 32]


def test_request_profile_eq_unordered():
    # order-insensitive equality (bitset semantics), mirroring the
    # reference's container_eq_unordered test style for its other bitset
    a = RequestProfile([Profile.EXPANDED, Profile.CONTEXT])
    b = RequestProfile([Profile.CONTEXT, Profile.EXPANDED])
    assert a == b
    assert hash(a) == hash(b)
    # duplicate-insensitive (Extend impl just ORs bits, profile.rs:118-126)
    c = RequestProfile([Profile.EXPANDED, Profile.EXPANDED, Profile.CONTEXT])
    assert c == a


def test_request_profile_contains_and_iter_order():
    rp = RequestProfile([Profile.FRAMED, Profile.COMPACTED])
    assert Profile.COMPACTED in rp
    assert Profile.FRAMED in rp
    assert Profile.FRAME not in rp
    # iteration filters variant-declaration order (profile.rs:87-91)
    assert list(rp) == [Profile.COMPACTED, Profile.FRAMED]


def test_request_profile_from_single():
    # From<Profile> impl (profile.rs:99-105)
    rp = RequestProfile.from_profile(Profile.FRAME)
    assert list(rp) == [Profile.FRAME]
    assert RequestProfile() != rp
    assert not list(RequestProfile())


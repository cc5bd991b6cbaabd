import workloads

SMALL = workloads.Workload("small", convs=3, pdf_pool=7, html_pool=4,
                           resume_half=False)


def test_fingerprint_stable_for_a_seed():
    a = workloads.generate(SMALL, 5)
    b = workloads.generate(SMALL, 5)
    assert a == b
    assert workloads.fingerprint(a) == workloads.fingerprint(b)


def test_fingerprint_changes_with_seed_and_content():
    a = workloads.generate(SMALL, 5)
    assert workloads.fingerprint(a) != workloads.fingerprint(
        workloads.generate(SMALL, 6))
    a["text"][0] += "!"
    assert workloads.fingerprint(a) != workloads.fingerprint(
        workloads.generate(SMALL, 5))

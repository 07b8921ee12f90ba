"""Model-based mutation testing: random interleavings of every mutation
kind against a plain-Python dict model of the table.

Each step picks an operation (append / delete in CoW or any MoR mode /
update in CoW or either MoR flavor / compact / snapshot expiry) with
randomized predicates, applies it to BOTH the engine and the model, and
asserts the engine's visible rows equal the model exactly.  Three seeds
× a dozen steps cover interleavings no hand-written scenario does —
especially MoR artifacts stacking on each other (a DV on top of
positional deletes on top of equality deletes, then compacted away).
"""

from __future__ import annotations

import random

DELETE_MODES = [
    "copy-on-write",
    "merge-on-read",             # spec mode name: DVs on the v3 model tables
    "merge-on-read-positional",
    "merge-on-read-dv",
]
UPDATE_MODES = ["copy-on-write", "merge-on-read-positional", "merge-on-read-dv"]


def _run_model(catalog, seed: int, steps: int = 12) -> None:
    rnd = random.Random(seed)
    t = catalog.create_table(
        f"model_{seed}",
        schema={"k": "int", "v": "string"},
        properties={"format-version": "3"},
    )
    model: dict[int, str] = {}
    next_key = 0

    def check(step, op):
        got = {r["k"]: r["v"] for r in t.to_a()}
        assert got == model, (
            f"seed={seed} step={step} after {op}: engine != model "
            f"(missing={sorted(set(model) - set(got))[:5]}, "
            f"extra={sorted(set(got) - set(model))[:5]})"
        )

    # initial data
    batch = [{"k": i, "v": "v0"} for i in range(20)]
    t.append(batch)
    model.update({r["k"]: r["v"] for r in batch})
    next_key = 20
    check(-1, "seed append")

    for step in range(steps):
        op = rnd.choice(["append", "delete", "delete", "update", "update",
                         "merge", "delete_by_keys", "compact", "expire",
                         "rewrite_pos_deletes"])
        if op == "merge":
            mode = rnd.choice(["copy-on-write", "merge-on-read"])
            live = sorted(model)
            picked = rnd.sample(live, min(5, len(live))) if live else []
            del_keys = picked[:2] if rnd.random() < 0.5 else []
            upd_keys = [k for k in picked if k not in del_keys]
            ins_keys = [next_key + i for i in range(2)]
            next_key += 2
            val = f"m{step}"
            rows = [(k, val, "del" if k in del_keys else "keep")
                    for k in picked + ins_keys]
            src = t.spark.createDataFrame(rows, "k int, v string, op string")
            nmbs = None
            if rnd.random() < 0.3:
                m = rnd.randrange(5, 9)
                nmbs = f"t.k % {m} = 0"
            t.merge_into(
                src, on="k", when_matched_update={"v": "s.v"},
                when_matched_delete="s.op = 'del'",
                when_not_matched_by_source_delete=nmbs,
                mode=mode,
            )
            src_keys = set(picked + ins_keys)
            for k in del_keys:
                del model[k]
            if nmbs is not None:
                for k in [k for k in model if k not in src_keys and k % m == 0]:
                    del model[k]
            for k in upd_keys + ins_keys:
                model[k] = val
            op = (f"merge[{mode}] upd={upd_keys} del={del_keys} "
                  f"ins={ins_keys} nmbs={nmbs}")
        elif op == "delete_by_keys":
            live = sorted(model)
            keys = rnd.sample(live, min(2, len(live))) if live else []
            if keys:
                t.delete_by_keys([{"k": k} for k in keys], on="k")
                for k in keys:
                    del model[k]
            op = f"delete_by_keys {keys}"
        elif op == "append":
            n = rnd.randrange(1, 8)
            batch = [{"k": next_key + i, "v": f"a{step}"} for i in range(n)]
            next_key += n
            t.append(batch)
            model.update({r["k"]: r["v"] for r in batch})
        elif op == "delete":
            mode = rnd.choice(DELETE_MODES)
            m, r = rnd.randrange(3, 7), rnd.randrange(0, 3)
            cond = f"k % {m} = {r}"
            deleted = t.delete_where(cond, mode=mode)
            dead = [k for k in model if k % m == r]
            assert deleted == len(dead), (seed, step, mode, cond)
            for k in dead:
                del model[k]
            op = f"delete[{mode}] {cond}"
        elif op == "update":
            mode = rnd.choice(UPDATE_MODES)
            m, r = rnd.randrange(3, 7), rnd.randrange(0, 3)
            cond = f"k % {m} = {r}"
            val = f"u{step}"
            updated = t.update_where({"v": f"'{val}'"}, cond, mode=mode)
            hit = [k for k in model if k % m == r]
            assert updated == len(hit), (seed, step, mode, cond)
            for k in hit:
                model[k] = val
            op = f"update[{mode}] {cond}"
        elif op == "compact":
            if rnd.random() < 0.5:
                t.compact(where=f"k < {rnd.randrange(5, 40)}")
            else:
                t.compact()
        elif op == "rewrite_pos_deletes":
            # maintenance: must NEVER change visible rows
            t.rewrite_position_deletes()
        else:
            t.expire_snapshots(keep_last=2)
        check(step, op)


def test_model_random_mutation_interleavings(catalog):
    for seed in (7, 23, 91):
        _run_model(catalog, seed)


def test_model_wap_branch_epochs(catalog):
    """Write-audit-publish epochs against per-branch models: each epoch
    forks an audit branch, applies random branch-scoped mutations
    (append/delete/update in random modes) checking the BRANCH view
    against the audit model and MAIN against the unchanged main model
    after every op, then publishes via fast_forward and verifies main
    adopted the audit state exactly."""
    rnd = random.Random(47)
    t = catalog.create_table(
        "wap_model", schema={"k": "int", "v": "string"},
        properties={"format-version": "3"},
    )
    main_model: dict[int, str] = {}
    batch = [{"k": i, "v": "v0"} for i in range(15)]
    t.append(batch)
    main_model.update({r["k"]: r["v"] for r in batch})
    next_key = 15

    for epoch in range(3):
        branch = f"audit{epoch}"
        t.create_branch(branch)
        audit_model = dict(main_model)
        for step in range(4):
            op = rnd.choice(["append", "delete", "update"])
            if op == "append":
                n = rnd.randrange(1, 4)
                rows = [{"k": next_key + i, "v": f"e{epoch}s{step}"} for i in range(n)]
                next_key += n
                t.append(rows, branch=branch)
                audit_model.update({r["k"]: r["v"] for r in rows})
            elif op == "delete":
                mode = rnd.choice(DELETE_MODES)
                m, r = rnd.randrange(3, 6), rnd.randrange(0, 3)
                deleted = t.delete_where(f"k % {m} = {r}", mode=mode, branch=branch)
                dead = [k for k in audit_model if k % m == r]
                assert deleted == len(dead), (epoch, step, mode)
                for k in dead:
                    del audit_model[k]
            else:
                mode = rnd.choice(UPDATE_MODES)
                m, r = rnd.randrange(3, 6), rnd.randrange(0, 3)
                val = f"u{epoch}s{step}"
                updated = t.update_where(
                    {"v": f"'{val}'"}, f"k % {m} = {r}", mode=mode, branch=branch
                )
                hit = [k for k in audit_model if k % m == r]
                assert updated == len(hit), (epoch, step, mode)
                for k in hit:
                    audit_model[k] = val
            got_branch = {r["k"]: r["v"] for r in t.to_a(ref=branch)}
            got_main = {r["k"]: r["v"] for r in t.to_a()}
            assert got_branch == audit_model, (epoch, step, op)
            assert got_main == main_model, (epoch, step, op, "main leaked")
        t.fast_forward("main", branch)
        t = t.refresh()
        main_model = audit_model
        assert {r["k"]: r["v"] for r in t.to_a()} == main_model, ("publish", epoch)


def test_model_partitioned_with_partition_migrations(catalog):
    """Model test on a hidden-partitioned table where updates may change
    the PARTITION column (rows migrate partitions through CoW and MoR
    updates alike): full-state and per-partition-filtered reads must both
    match the model after every step."""
    rnd = random.Random(5)
    t = catalog.create_table(
        "pmodel", schema={"k": "int", "g": "string"},
        partition_spec=[("g", "identity")],
        properties={"format-version": "3"},
    )
    model: dict[int, str] = {}
    batch = [{"k": i, "g": "abc"[i % 3]} for i in range(24)]
    t.append(batch)
    model.update({r["k"]: r["g"] for r in batch})
    nk = 24
    for step in range(8):
        op = rnd.choice(["append", "delete", "update_part", "compact"])
        if op == "append":
            n = rnd.randrange(1, 5)
            rows = [{"k": nk + i, "g": "abc"[(nk + i) % 3]} for i in range(n)]
            nk += n
            t.append(rows)
            model.update({r["k"]: r["g"] for r in rows})
        elif op == "delete":
            mode = rnd.choice(DELETE_MODES)
            m, r = rnd.randrange(3, 6), rnd.randrange(0, 3)
            d = t.delete_where(f"k % {m} = {r}", mode=mode)
            dead = [k for k in model if k % m == r]
            assert d == len(dead), (step, mode)
            for k in dead:
                del model[k]
        elif op == "update_part":
            mode = rnd.choice(UPDATE_MODES)
            m, r = rnd.randrange(4, 7), rnd.randrange(0, 3)
            g = rnd.choice("xyz")
            u = t.update_where({"g": f"'{g}'"}, f"k % {m} = {r}", mode=mode)
            hit = [k for k in model if k % m == r]
            assert u == len(hit), (step, mode)
            for k in hit:
                model[k] = g
        else:
            t.compact()
        assert {r["k"]: r["g"] for r in t.to_a()} == model, (step, op)
        for g in ("a", "x"):
            want = sorted(k for k, v in model.items() if v == g)
            have = sorted(r["k"] for r in t.scan().filter(f"g = '{g}'").to_a())
            assert want == have, (step, op, g)


def test_model_cdc_replica_tracks_random_mutations(catalog):
    """A replica synced purely through changelog windows must equal the
    source after ANY mutation interleaving — appends, CoW and MoR
    deletes/updates, merges (all three clauses), compaction (which must
    cancel to nothing in the changelog).  This composes the changelog
    producer and the apply_changelog consumer against the dict model."""
    rnd = random.Random(61)
    t = catalog.create_table(
        "cdc_model_src", schema={"k": "int", "v": "string"},
        properties={"format-version": "3"},
    )
    rep = catalog.create_table("cdc_model_rep", schema={"k": "int", "v": "string"})
    model: dict[int, str] = {}
    batch = [{"k": i, "v": "v0"} for i in range(16)]
    t.append(batch)
    model.update({r["k"]: r["v"] for r in batch})
    next_key = 16
    mark = None  # replica watermark (source snapshot id)

    def sync_and_check(step):
        nonlocal mark
        rep.apply_changelog(
            t.changelog_scan(from_snapshot_id=mark), on="k"
        )
        mark = t.refresh().current_snapshot_id
        got = {r["k"]: r["v"] for r in rep.refresh().to_a()}
        assert got == model, (
            f"step={step}: replica != model "
            f"(missing={sorted(set(model) - set(got))[:5]}, "
            f"extra={sorted(set(got) - set(model))[:5]})"
        )

    sync_and_check(-1)
    for step in range(8):
        op = rnd.choice(["append", "delete", "update", "merge", "compact"])
        if op == "append":
            n = rnd.randrange(1, 5)
            rows = [{"k": next_key + i, "v": f"a{step}"} for i in range(n)]
            next_key += n
            t.append(rows)
            model.update({r["k"]: r["v"] for r in rows})
        elif op == "delete":
            mode = rnd.choice(DELETE_MODES)
            m, r = rnd.randrange(3, 6), rnd.randrange(0, 3)
            t.delete_where(f"k % {m} = {r}", mode=mode)
            for k in [k for k in model if k % m == r]:
                del model[k]
        elif op == "update":
            mode = rnd.choice(UPDATE_MODES)
            m, r = rnd.randrange(3, 6), rnd.randrange(0, 3)
            val = f"u{step}"
            t.update_where({"v": f"'{val}'"}, f"k % {m} = {r}", mode=mode)
            for k in [k for k in model if k % m == r]:
                model[k] = val
        elif op == "merge":
            live = sorted(model)
            picked = rnd.sample(live, min(3, len(live))) if live else []
            ins = [next_key, next_key + 1]
            next_key += 2
            val = f"m{step}"
            src = t.spark.createDataFrame(
                [(k, val) for k in picked + ins], "k int, v string"
            )
            t.merge_into(
                src, on="k", when_matched_update={"v": "s.v"},
                mode=rnd.choice(["copy-on-write", "merge-on-read"]),
            )
            for k in picked + ins:
                model[k] = val
        else:
            t.compact()  # physical churn: must cancel in the changelog
        sync_and_check(step)

# The 12-rule flagship indexing config: the same rules, in the same
# order, as flagship_pipeline() in the repository's __spark_entry__.py,
# written as a traject-spark -c config file.
to_field("title", extract_marc("245ab", trim_punctuation=True))
to_field("title_sort", marc_sortable_title())
to_field("author", extract_marc("100a:110a:111a"))
to_field("author_sort", marc_sortable_author())
to_field("language", marc_languages())
to_field("oclc", oclcnum())
to_field("lcc_category", marc_lcc_to_broad_category())
to_field("subject", marc_lcsh_formatted())
to_field("geo", marc_geo_facet())
to_field("format", marc_formats())
to_field("pub_date", marc_publication_date())
to_field("all_text", extract_all_marc_values())

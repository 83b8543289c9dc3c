"""Ports of the reference's integration tests
(reference: tests/integration_tests.rs, cited per block)."""

from pdf_inspector_spark.kernels.detector import DetectionConfig
from pdf_inspector_spark.kernels.extractor import (TextItem, TextLine,
                                                   group_into_lines,
                                                   is_bold_font,
                                                   is_italic_font)
from pdf_inspector_spark.kernels.markdown import (MarkdownOptions, to_markdown,
                                                  to_markdown_from_items,
                                                  to_markdown_from_lines)
from pdf_inspector_spark.kernels.pipeline import classify_mem


def make_text_item(text, x, y, font_size, page, font="Helvetica"):
    # width heuristic mirrors tests/integration_tests.rs:11-26
    return TextItem(text, x, y, len(text) * font_size * 0.5, font_size,
                    font, font_size, page, is_bold_font(font),
                    is_italic_font(font))


class TestDetectionConfig:
    def test_default(self):  # :56-62
        cfg = DetectionConfig()
        assert cfg.max_pages_to_sample == 5
        assert cfg.min_text_ops_per_page == 3
        assert abs(cfg.text_page_ratio_threshold - 0.6) < 0.001

    def test_custom(self):  # :64-74
        cfg = DetectionConfig(10, 5, 0.8)
        assert cfg.max_pages_to_sample == 10
        assert cfg.min_text_ops_per_page == 5
        assert abs(cfg.text_page_ratio_threshold - 0.8) < 0.001


class TestTextLine:
    def test_text_method(self):  # :130-142
        line = TextLine([make_text_item("Hello", 100.0, 700.0, 12.0, 1),
                         make_text_item("World", 160.0, 700.0, 12.0, 1)],
                        700.0, 1)
        assert line.text() == "Hello World"

    def test_single_item(self):  # :144-153
        line = TextLine([make_text_item("Single", 100.0, 700.0, 12.0, 1)],
                        700.0, 1)
        assert line.text() == "Single"

    def test_empty(self):  # :155-163
        assert TextLine([], 700.0, 1).text() == ""


class TestGroupIntoLines:
    def test_empty(self):  # :169-174
        assert group_into_lines([]) == []

    def test_same_line(self):  # :176-187
        items = [make_text_item("A", 100.0, 700.0, 12.0, 1),
                 make_text_item("B", 120.0, 700.0, 12.0, 1),
                 make_text_item("C", 140.0, 700.0, 12.0, 1)]
        lines = group_into_lines(items)
        assert len(lines) == 1
        assert len(lines[0].items) == 3
        assert lines[0].text() == "A B C"

    def test_different_lines(self):  # :189-201
        items = [make_text_item("Line1", 100.0, 700.0, 12.0, 1),
                 make_text_item("Line2", 100.0, 680.0, 12.0, 1),
                 make_text_item("Line3", 100.0, 660.0, 12.0, 1)]
        lines = group_into_lines(items)
        assert [l.text() for l in lines] == ["Line1", "Line2", "Line3"]

    def test_y_tolerance(self):  # :203-214
        items = [make_text_item("A", 100.0, 700.0, 12.0, 1),
                 make_text_item("B", 150.0, 700.0, 12.0, 1)]
        lines = group_into_lines(items)
        assert len(lines) == 1
        assert lines[0].text() == "A B"

    def test_multiple_pages(self):  # :216-226
        items = [make_text_item("Page1Text", 100.0, 700.0, 12.0, 1),
                 make_text_item("Page2Text", 100.0, 700.0, 12.0, 2)]
        lines = group_into_lines(items)
        assert [l.page for l in lines] == [1, 2]

    def test_sorting_by_x(self):  # :228-239
        items = [make_text_item("Third", 200.0, 700.0, 12.0, 1),
                 make_text_item("First", 50.0, 700.0, 12.0, 1),
                 make_text_item("Second", 100.0, 700.0, 12.0, 1)]
        lines = group_into_lines(items)
        assert len(lines) == 1
        assert lines[0].text() == "First Second Third"


class TestMarkdownOptions:
    def test_default(self):  # :245-252
        opts = MarkdownOptions()
        assert opts.detect_headers and opts.detect_lists and opts.detect_code
        assert opts.base_font_size is None

    def test_custom(self):  # :254-280
        opts = MarkdownOptions(detect_headers=False, detect_lists=True,
                               detect_code=False, base_font_size=14.0,
                               remove_page_numbers=False, format_urls=False,
                               fix_hyphenation=False, detect_bold=False,
                               detect_italic=False, include_images=False,
                               include_links=False)
        assert not opts.detect_headers and opts.detect_lists
        assert opts.base_font_size == 14.0


class TestToMarkdownPlain:
    def test_basic(self):  # :286-291
        assert "Hello World" in to_markdown("Hello World")

    def test_multiple_lines(self):  # :293-300
        md = to_markdown("Line one\nLine two\nLine three")
        for s in ("Line one", "Line two", "Line three"):
            assert s in md

    def test_bullet_list(self):  # :302-309
        md = to_markdown("• First\n• Second\n• Third")
        for s in ("- First", "- Second", "- Third"):
            assert s in md

    def test_numbered_list(self):  # :319-325
        md = to_markdown("1. First\n2. Second\n3. Third")
        assert "1. First" in md and "2. Second" in md

    def test_code_detection(self):  # :327-332
        assert "```" in to_markdown("const x = 5;\nlet y = 10;")

    def test_no_code_detection(self):  # :334-343
        assert "```" not in to_markdown("const x = 5;",
                                        MarkdownOptions(detect_code=False))

    def test_no_list_detection(self):  # :345-355
        assert "•" in to_markdown("• Item", MarkdownOptions(detect_lists=False))

    def test_bullet_variations(self):  # :511-526
        for bullet in ("• Item", "○ Item", "● Item", "◦ Item"):
            assert "- Item" in to_markdown(bullet), bullet
        for bullet in ("- Item", "* Item"):
            assert bullet in to_markdown(bullet), bullet

    def test_code_keywords(self):  # :547-565
        for code in ("import foo", "export default", "const x = 5;",
                     "let y = 10;", "function test() {", "class MyClass {",
                     "def func():", "pub fn main() {", "async fn process() {",
                     "impl Trait {"):
            assert "```" in to_markdown(code), code

    def test_code_syntax_patterns(self):  # :567-579
        for code in ("=> value", "-> Result", ":: io::Result"):
            assert "```" in to_markdown(code), code

    def test_code_special_chars(self):  # :581-586
        assert "```" in to_markdown("if (x > 0) { return y; }")

    def test_non_code_text(self):  # :588-593
        assert "```" not in to_markdown("This is regular text about programming.")

    def test_dash_list(self):  # :311-317
        md = to_markdown("- One\n- Two\n- Three")
        assert "- One" in md and "- Two" in md

    def test_empty_lines(self):  # :357-363
        md = to_markdown("Para one\n\nPara two")
        assert "Para one" in md and "Para two" in md

    def test_whitespace_only_lines(self):  # :365-371
        md = to_markdown("Content\n   \nMore content")
        assert "Content" in md and "More content" in md

    def test_numbered_list_variations(self):  # :528-536
        for item in ("1. First", "2) Second", "10. Tenth"):
            assert to_markdown(item).strip(), item

    def test_letter_list_items(self):  # :538-541
        assert "a. Letter item" in to_markdown("a. Letter item")

    def test_excessive_newlines_preserved_in_plain_text(self):  # :712-720
        md = to_markdown("Para one\n\n\n\n\nPara two")
        assert "Para one" in md and "Para two" in md

    def test_trailing_newline(self):  # :726-732
        md = to_markdown("Content")
        assert md.endswith("\n") and not md.endswith("\n\n")


class TestMarkdownFromItems:
    def test_empty(self):  # :377-383
        assert to_markdown_from_items([]) == ""

    def test_single(self):  # :385-391
        md = to_markdown_from_items([make_text_item("Hello", 100.0, 700.0, 12.0, 1)])
        assert "Hello" in md

    def test_header_detection(self):  # :393-406
        items = [make_text_item("Title", 100.0, 750.0, 24.0, 1),
                 make_text_item("Body text one", 100.0, 700.0, 12.0, 1),
                 make_text_item("Body text two", 100.0, 680.0, 12.0, 1),
                 make_text_item("Body text three", 100.0, 660.0, 12.0, 1)]
        md = to_markdown_from_items(items)
        assert "# Title" in md and "Body text" in md

    def test_h2_detection(self):  # :408-421
        items = [make_text_item("Title", 100.0, 800.0, 24.0, 1),
                 make_text_item("Subtitle", 100.0, 750.0, 18.0, 1),
                 make_text_item("Body text one", 100.0, 700.0, 12.0, 1),
                 make_text_item("Body text two", 100.0, 680.0, 12.0, 1),
                 make_text_item("Body text three", 100.0, 660.0, 12.0, 1)]
        assert "## Subtitle" in to_markdown_from_items(items)

    def test_single_heading_tier_becomes_h1(self):  # :650-661
        items = [make_text_item("Section Title", 100.0, 700.0, 18.0, 1),
                 make_text_item("body text one", 100.0, 650.0, 12.0, 1),
                 make_text_item("body text two", 100.0, 630.0, 12.0, 1),
                 make_text_item("body text three", 100.0, 610.0, 12.0, 1)]
        assert "# Section Title" in to_markdown_from_items(items)

    def test_h3_h4_tiers(self):  # :679-710
        items = [make_text_item("H1 Title", 100.0, 850.0, 24.0, 1),
                 make_text_item("H2 Title", 100.0, 800.0, 18.0, 1),
                 make_text_item("H3 Title", 100.0, 750.0, 15.0, 1),
                 make_text_item("H4 Title", 100.0, 700.0, 14.5, 1),
                 make_text_item("body text one", 100.0, 650.0, 12.0, 1),
                 make_text_item("body text two", 100.0, 630.0, 12.0, 1),
                 make_text_item("body text three", 100.0, 610.0, 12.0, 1)]
        md = to_markdown_from_items(items)
        assert "# H1 Title" in md
        assert "## H2 Title" in md
        assert "### H3 Title" in md
        assert "#### H4 Title" in md

    def test_monospace_code(self):  # :424-437, :599-628
        for font in ("Courier", "Consolas", "Monaco", "Menlo", "Fira Code",
                     "JetBrains Mono", "Inconsolata", "DejaVu Sans Mono",
                     "Liberation Mono", "Fixed", "Terminal"):
            md = to_markdown_from_items(
                [make_text_item("code", 100.0, 700.0, 12.0, 1, font=font)])
            assert "```" in md, font

    def test_page_breaks(self):  # :439-451
        items = [make_text_item("Content on first page", 100.0, 700.0, 12.0, 1),
                 make_text_item("Content on second page", 100.0, 700.0, 12.0, 2)]
        md = to_markdown_from_items(items)
        assert "---" not in md
        assert "Content on first page" in md
        assert "Content on second page" in md


class TestMarkdownFromLines:
    def test_empty(self):  # :457-463
        assert to_markdown_from_lines([]) == ""

    def test_basic(self):  # :465-483
        lines = [TextLine([make_text_item("First", 100.0, 700.0, 12.0, 1)], 700.0, 1),
                 TextLine([make_text_item("Second", 100.0, 680.0, 12.0, 1)], 680.0, 1)]
        md = to_markdown_from_lines(lines)
        assert "First" in md and "Second" in md


class TestErrorHandling:
    """The engine's error-as-row analog of :489-505 (no file paths in the
    Spark pipeline; invalid buffers produce error rows, never raises)."""

    def test_classify_invalid_buffer(self):
        r = classify_mem(b"not a pdf")
        assert r["error_kind"] is not None
